"""Package the engine for spark-submit: dist/granulate_char_ocr_spark.zip
for --py-files, and the in-process ``file://`` FileSystem's jar
(dist/gcos-localfs-<hash>.jar, built with the JDK's javac) for
--driver-class-path."""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> str:
    os.makedirs(os.path.join(ROOT, "dist"), exist_ok=True)
    out = os.path.join(ROOT, "dist", "granulate_char_ocr_spark.zip")
    pkg = os.path.join(ROOT, "granulate_char_ocr_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    print(out)
    sys.path.insert(0, ROOT)
    from granulate_char_ocr_spark.session import local_fs_jar

    jar = local_fs_jar()
    print(jar or "no javac: skipped the file:// FileSystem jar")
    return out


if __name__ == "__main__":
    main()
