"""Crawl-maintenance operators — the incremental-ingest stages of a
web-scale pipeline: snapshot diffing (what changed since the last
crawl?) and robots.txt compliance (what may be kept at all?).

Both are pure DataFrame compositions (no Python anywhere):

- ``snapshot_diff`` is ONE full-outer join on the page key with status
  classification in the projection — at 100 TB this is a single
  co-partitioned shuffle on the join key, and AQE handles the
  almost-always-skewed "unchanged" majority.
- ``robots_rules`` parses robots.txt TEXT relationally: explode lines,
  attach each line to its governing ``User-agent`` group with a
  running-window group id, pick the governing group (agent-specific if
  one names our product token, else the ``*`` group, RFC 9309 §2.2.1),
  and compile each ``Allow``/``Disallow`` value to an anchored regex
  (``*`` → ``.*``, trailing ``$`` → end anchor, everything else
  escaped) — all in column expressions. ``apply_robots`` is a
  broadcast equi-join on host plus a longest-match fold over the
  host's rules — rule tables are tiny (per-host robots files), so no
  shuffle touches the URL table.

robots semantics are RFC 9309 matching: ``Allow`` and ``Disallow``
both honored, ``*`` matches any character run, a trailing ``$``
anchors the end, precedence is the longest (most-octets) matching
rule with ties broken toward ``Allow`` (§2.2.2), and an empty rule
value means no rule (the RFC's allow-all example). Matching is
against the URL path (the shared urlfilter path slice). Comments
(``#``) and blank lines are ignored; field names and user-agent
product tokens match case-insensitively."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    content_col: str = "content",
) -> DataFrame:
    """(old snapshot, new snapshot) -> (key, status, old_len, new_len)
    with status ∈ added | removed | changed | unchanged. One full-outer
    join; content equality is compared directly (engine-native string
    compare), lengths surfaced for audit."""
    # presence is tracked with explicit markers, NOT content nullity: a
    # snapshot row whose content is NULL is still PRESENT (it would
    # otherwise misclassify as added/removed), and NULL↔NULL content
    # must compare unchanged (eqNullSafe)
    o = old.select(
        F.col(key_col).alias("_k"),
        F.col(content_col).alias("_old"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(key_col).alias("_k"),
        F.col(content_col).alias("_new"),
        F.lit(True).alias("_in_new"),
    )
    j = o.join(n, "_k", "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_old").eqNullSafe(F.col("_new")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        F.col("_k").alias(key_col),
        status.alias("status"),
        F.length("_old").alias("old_len"),
        F.length("_new").alias("new_len"),
    )


def robots_rules(
    robots: DataFrame,
    host_col: str = "host",
    text_col: str = "robots_txt",
    agent: str | None = None,
) -> DataFrame:
    """(host, robots_txt) -> (host, rule, is_allow, prio, pattern).

    Relational parse: posexplode lines → strip comments/whitespace →
    group lines under their governing User-agent run → pick the
    governing group per host (a group naming ``agent``'s product token
    case-insensitively if one exists, else the ``*`` group — RFC 9309
    §2.2.1) → keep that group's ``Allow``/``Disallow`` lines.

    Each rule is compiled to an anchored Java/RE2-common regex in pure
    column expressions: a trailing ``$`` becomes an end anchor, ``*``
    becomes ``.*``, every other regex metachar is escaped; ``prio`` is
    the rule's octet length (the RFC's longest-match precedence key).
    Hosts whose robots.txt yields no rules simply emit no rows
    (allow-all). Empty rule values are dropped here (they mean no rule
    per RFC 9309), so every emitted row is a real pattern."""
    lines_g = _grouped_lines(robots, host_col, text_col)
    groups = _governing_groups(lines_g, host_col, agent)
    rules = lines_g.filter(
        F.col("field").isin("disallow", "allow") & (F.col("value") != "")
        # gid 0 = rules before any User-agent line: outside any group,
        # ignored per the RFC (the join below drops them since no
        # governing group has gid 0)
    )
    # rule value -> anchored regex, all codegen: strip one trailing '$'
    # (the RFC end anchor), escape every Java-regex metachar EXCEPT
    # '*', then turn '*' into '.*'; '^' + body (+ '$' if anchored)
    # gives prefix semantics under RLIKE's find-at-position matching.
    # A mid-rule '$' is literal per the RFC and lands in the escape.
    v = F.col("value")
    anchored = v.endswith("$")
    body = F.regexp_replace(v, r"\$$", "")
    esc = F.regexp_replace(body, r"([\\.\[\]{}()+\-?^$|])", r"\\$1")
    rx = F.regexp_replace(esc, r"\*", ".*")
    pattern = F.concat(
        F.lit("^"), rx, F.when(anchored, F.lit("$")).otherwise(F.lit(""))
    )
    return (
        # groups is per-host-per-group — always tiny; broadcast keeps
        # the parse free of a sort-merge exchange pair
        rules.join(F.broadcast(groups), [host_col, "gid"])
        .select(
            host_col,
            v.alias("rule"),
            (F.col("field") == "allow").alias("is_allow"),
            F.octet_length(v).alias("prio"),
            pattern.alias("pattern"),
        )
        .distinct()
    )


def _grouped_lines(
    robots: DataFrame, host_col: str, text_col: str
) -> DataFrame:
    """robots.txt text -> one row per field line with its governing
    User-agent group id (host, line_no, field, value, gid)."""
    lines = robots.select(
        host_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "raw"),
    ).select(
        host_col,
        "line_no",
        # strip comments, then surrounding whitespace (explicit class —
        # the cross-engine \s trap, see functions/html.py)
        F.regexp_replace(
            F.regexp_replace("raw", "#.*$", ""), r"^[ \t\r]+|[ \t\r]+$", ""
        ).alias("line"),
    )
    fields = lines.select(
        host_col,
        "line_no",
        F.lower(F.regexp_extract("line", r"^([A-Za-z-]+)[ \t]*:", 1)).alias(
            "field"
        ),
        F.regexp_replace(
            F.regexp_extract("line", r"^[A-Za-z-]+[ \t]*:[ \t]*(.*)$", 1),
            r"[ \t\r]+$",
            "",
        ).alias("value"),
    )
    # consecutive User-agent lines open ONE group (RFC 9309 §2.2.1),
    # and a group's rules run until the next UA run starts. Assign each
    # line the id of the most recent UA-run START at-or-before it, then
    # keep Disallow lines whose group contains a '*' agent line — this
    # honors '*' anywhere in the run, not just as the last UA line.
    # Blank and comment-only lines parse to field='' and are dropped
    # BEFORE the windows: the RFC ignores them entirely, so they must
    # not split a UA run (a '#' comment between two UA lines would
    # otherwise sever the group and silently drop its rules).
    fields = fields.filter(F.col("field") != "")
    w_ord = Window.partitionBy(host_col).orderBy("line_no")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_ua = F.col("field") == "user-agent"
    run_start = is_ua & ~F.coalesce(
        F.lag(is_ua).over(w_ord), F.lit(False)
    )
    return fields.withColumn(
        "gid", F.sum(run_start.cast("int")).over(w_run)
    )


def _governing_groups(
    lines_g: DataFrame, host_col: str, agent: str | None
) -> DataFrame:
    """Grouped lines -> the (host, gid) group ids whose rules govern
    ``agent``: the groups naming its product token (case-insensitive)
    when any exist for a host, else that host's ``*`` groups — RFC
    9309 §2.2.1."""
    is_ua = F.col("field") == "user-agent"
    ua_lines = lines_g.filter(is_ua)
    star_groups = (
        ua_lines.filter(F.col("value") == "*")
        .select(host_col, "gid")
        .distinct()
        .withColumn("_spec", F.lit(False))
    )
    if agent is None:
        return star_groups.select(host_col, "gid")
    spec_groups = (
        ua_lines.filter(F.lower(F.col("value")) == agent.lower())
        .select(host_col, "gid")
        .distinct()
        .withColumn("_spec", F.lit(True))
    )
    # RFC 9309 §2.2.1: if a group names our product token, ONLY that
    # group governs; the '*' group is the fallback. The window runs
    # over the tiny per-host group table, not the line table.
    w_host = Window.partitionBy(host_col)
    return (
        star_groups.unionByName(spec_groups)
        .withColumn(
            "_has_spec", F.max(F.col("_spec").cast("int")).over(w_host)
        )
        .filter(F.col("_spec").cast("int") == F.col("_has_spec"))
        .select(host_col, "gid")
    )


def apply_robots(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """(…, url, host) × robots_rules output -> (…, allowed) under RFC
    9309 precedence: among the host's rules whose pattern matches the
    URL path, the longest (highest ``prio``) governs, ties break
    toward ``Allow``; no match (or no robots) means allowed. The fold
    is a single ``aggregate`` over the matching rules — entirely
    engine-side, no Python.

    The rules side is broadcast (robots files are tiny relative to any
    crawl), so the URL table never shuffles; the per-row RLIKE against
    a handful of non-foldable host patterns stays inside codegen. The
    path slice is the SHARED urlfilter constant — the frontier rules
    and the robots apply must parse URLs identically."""
    from granulate_char_ocr_spark.operators.urlfilter import _RE_PATH

    path = F.regexp_extract(F.col(url_col), _RE_PATH, 1)
    u = urls.withColumn("_path", F.when(path == "", "/").otherwise(path))
    r = F.broadcast(
        rules.groupBy(host_col).agg(
            F.collect_list(F.struct("prio", "is_allow", "pattern")).alias(
                "_rules"
            )
        )
    )
    j = u.join(r, host_col, "left")
    matches = F.filter(
        F.coalesce(F.col("_rules"), F.array()),
        lambda x: F.rlike(F.col("_path"), x["pattern"]),
    )
    # longest-match fold; the init prio -1 < any real rule's octet
    # length, so "no matching rule" resolves to the init's allow=true
    best = F.aggregate(
        matches,
        F.struct(F.lit(-1).alias("prio"), F.lit(True).alias("is_allow")),
        lambda acc, x: F.when(
            (x["prio"] > acc["prio"])
            | ((x["prio"] == acc["prio"]) & x["is_allow"]),
            F.struct(x["prio"].alias("prio"), x["is_allow"].alias("is_allow")),
        ).otherwise(acc),
    )
    return j.withColumn("allowed", best["is_allow"]).drop("_rules", "_path")


def crawl_schedule(
    frontier: DataFrame,
    ranks: DataFrame,
    diff: DataFrame | None = None,
    per_host_budget: int = 100,
    default_rank: float = 1e-6,
) -> DataFrame:
    """Priority-ordered fetch schedule — the stage that turns the
    crawl-maintenance signals into tomorrow's fetch list:

      priority = host authority (PageRank, graph.pagerank) ×
                 page change status (snapshot_diff):
                 added 1.0 / changed 0.8 / unchanged 0.05;
                 a URL with no diff row is new → 1.0;
                 'removed' pages leave the schedule entirely.

    Capped per host (the politeness budget, priority-ranked) and
    ordered so the fetcher drains highest-value URLs first.

    Plan shape at scale: the rank table is hosts (small — broadcast),
    the diff join is one url-key shuffle, the budget cap one host-key
    window — two exchanges over the frontier regardless of corpus
    size (output is NOT globally sorted: the per-host window already
    orders each host's drain, and a global sort would add a
    range-partition exchange for an ordering the fetcher pool doesn't
    need — order by ``priority`` at the consumer if required). Hosts
    absent from the rank table get ``default_rank`` so
    newly-discovered sites are crawlable but never outrank known
    authority."""
    # project first: a frontier carrying its own 'rank'/'status'
    # columns would make the joins ambiguous
    f = frontier.select("url", "host").join(
        F.broadcast(ranks.select("host", "rank")), "host", "left"
    )
    if diff is not None:
        f = f.join(diff.select("url", "status"), "url", "left")
        weight = (
            F.when(F.col("status") == "removed", F.lit(0.0))
            .when(F.col("status") == "changed", F.lit(0.8))
            .when(F.col("status") == "unchanged", F.lit(0.05))
            .otherwise(F.lit(1.0))  # added, or never seen
        )
    else:
        weight = F.lit(1.0)
    scored = f.select(
        "url",
        "host",
        (F.coalesce(F.col("rank"), F.lit(default_rank)) * weight).alias(
            "priority"
        ),
    ).filter(F.col("priority") > 0)
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_host_budget)
        .drop("_rn")
    )
