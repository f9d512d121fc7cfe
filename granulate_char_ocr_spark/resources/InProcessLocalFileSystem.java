package granulate.hadoop;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The {@code file://} FileSystem with permissions set inside the JVM.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} forks a
 * {@code chmod} for every directory, data file and {@code .crc} file it
 * creates, ~5 ms each. This class is the stock checksummed
 * {@link LocalFileSystem} over a raw filesystem that overrides only
 * {@code setPermission}: the nine rwx bits go through
 * {@link Files#setPosixFilePermissions}; a mode with the sticky bit, which
 * NIO cannot set, falls back to the stock call. Select it with
 * {@code fs.file.impl=granulate.hadoop.InProcessLocalFileSystem}.
 */
public class InProcessLocalFileSystem extends LocalFileSystem {

  public InProcessLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} with an in-process {@code setPermission}. */
  public static class Raw extends RawLocalFileSystem {

    // PosixFilePermission's order: OWNER_READ (0400) ... OTHERS_EXECUTE (01)
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
