"""Independent oracles for the replay workloads.

The expected lake state is a plain last-writer-wins over the raw change
stream — Spark SQL for whole-table answers, a Python dict for the small
per-read answers — with the content fingerprint recomputed by ``sha2`` over
content normalized the way ``arc_spark/cdc/reference.py`` normalizes it.
Nothing here calls the engine's apply kernel, runner or lake code.
"""

from __future__ import annotations

from arc_spark.cdc.reference import reference_replay

# The reference normalization, as Java regexes: CRLF -> LF, strip spaces and
# tabs before each newline, strip trailing whitespace. \f and \x0B reach the
# regex escaped (a SQL literal has no \f escape; Java's \v is a wider class
# than Python's).
NORMALIZED_SHA = (
    r"sha2(regexp_replace(regexp_replace(regexp_replace(content, '\r\n', '\n'), "
    r"'[ \t]+\n', '\n'), '[ \t\r\n\\f\\x0B]+$', ''), 256)"
)


def events(spark, view: str, where: str) -> list[tuple]:
    """``(repo, path, seq, op, sha)`` of the row events matching ``where``;
    a delete carries no fingerprint."""
    return [tuple(r) for r in spark.sql(f"""
        SELECT repo, path, seq, op,
               CASE WHEN op = 'delete' THEN NULL ELSE {NORMALIZED_SHA} END AS sha
        FROM {view} WHERE op <> 'schema-change' AND ({where})
    """).collect()]


def lww(rows: list[tuple], with_deletes: bool = False) -> list[tuple]:
    """Winner per (repo, path) of ``events`` rows. With ``with_deletes``:
    ``(repo, path, seq, 'delete'|'upsert', sha)`` for every key; without:
    ``(repo, path, seq, sha)`` of the keys whose winner is not a delete."""
    win: dict[tuple, tuple] = {}
    for r in rows:
        k = (r[0], r[1])
        if k not in win or r[2] > win[k][2]:
            win[k] = r
    if with_deletes:
        return [(r[0], r[1], r[2], "delete" if r[3] == "delete" else "upsert", r[4])
                for r in win.values()]
    return [(r[0], r[1], r[2], r[4]) for r in win.values() if r[3] != "delete"]


def keys_clause(keys) -> str:
    """SQL predicate matching the (repo, path) pairs in ``keys``."""
    return " OR ".join(f"(repo = '{r}' AND path = '{p}')" for r, p in keys) or "false"


def digest(df) -> tuple:
    """Order-independent (rows, hash sum, hash sum) of (repo, path, seq,
    content_sha256), computed in Spark."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in ("repo", "path", "seq", "content_sha256")]
    return tuple(df.groupBy().agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
        F.sum(F.hash(*cols).cast("decimal(38,0)")),
    ).first())


def state(spark, view: str, hi_seq: int):
    """The visible state after the events up to ``hi_seq``, as a DataFrame
    of (repo, path, seq, content_sha256)."""
    return spark.sql(f"""
        SELECT repo, path, seq, content_sha256 FROM (
            SELECT repo, path, seq, op, {NORMALIZED_SHA} AS content_sha256,
                   row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
            FROM {view} WHERE op <> 'schema-change' AND seq <= {hi_seq}
        ) WHERE rn = 1 AND op <> 'delete'
    """)


def self_check(spark, view: str, hi_seq: int) -> bool:
    """Cross-check both oracle forms against the one-event-at-a-time Python
    reference replay on the first 2000 events of the stream."""
    lim = min(hi_seq, 1999)
    raw = [r.asDict() for r in spark.sql(
        f"SELECT seq, op, repo, path, commit, content FROM {view} WHERE seq <= {lim}"
    ).collect()]
    want = sorted((k[0], k[1], v["seq"], v["sha256"])
                  for k, v in reference_replay(raw).items())
    by_sql = sorted(tuple(r) for r in state(spark, view, lim).collect())
    return want == sorted(lww(events(spark, view, f"seq <= {lim}"))) == by_sql
