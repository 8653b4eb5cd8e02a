"""Expected answers for the validation job, computed with DuckDB over the
generated parquet, and the checks that compare a job's outputs to them.

The expected answers follow the job's default rule set
(``filters_spark.job.default_rules``) written as SQL: ``conv_id`` and
``text`` required (not null, not empty), ``turn_idx >= 0``, ``role`` and
``tool`` in their domains (a null tool passes).  Uniqueness and
gaplessness follow the suite's verdict cascade, as in the
``suite_verdicts`` oracle of ``__spark_entry__.py``.  Bucket ids come from
``gen.conv_buckets`` (Spark's ``xxhash64``), joined in from a side table
the job never sees.
"""

from __future__ import annotations

import json
import math
import os

import duckdb

ROLES = ("system", "user", "assistant", "tool")
TOOLS = ("search", "code", "browser")
MAX_INVALID_RATE = 0.05
#: relative tolerance on drift floats: their sums run in task order, so
#: identical runs can differ in the last digit
DRIFT_RTOL = 1e-9
VERDICT_COLS = (
    "bucket",
    "n_rows",
    "n_invalid",
    "dup_keys",
    "surplus_rows",
    "n_convs",
    "gappy_convs",
    "bucket_pass",
)


def _in(values) -> str:
    return "(" + ", ".join(f"'{v}'" for v in values) + ")"


def _pq(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


VERDICTS_SQL = f"""
WITH t AS (
  SELECT i.*, b.bucket FROM {{input}} i JOIN {{buckets}} b USING (conv_id)
), flags AS (
  SELECT bucket,
    (conv_id IS NULL OR conv_id = '')::INT AS v_conv_id,
    coalesce(turn_idx < 0, false)::INT AS v_turn_idx,
    coalesce(role NOT IN {_in(ROLES)}, false)::INT AS v_role,
    (text IS NULL OR text = '')::INT AS v_text,
    coalesce(tool NOT IN {_in(TOOLS)}, false)::INT AS v_tool
  FROM t
), validity AS (
  SELECT bucket, count(*) AS n_rows,
    count(*) FILTER (WHERE v_conv_id + v_turn_idx + v_role + v_text + v_tool > 0)
      AS n_invalid
  FROM flags GROUP BY 1
), keyed AS (
  SELECT conv_id, turn_idx, count(*) AS cnt FROM t GROUP BY 1, 2
), convs AS (
  SELECT conv_id, count(*) AS distinct_turns, min(turn_idx) AS mn,
    max(turn_idx) AS mx, count(*) FILTER (WHERE cnt > 1) AS dup_keys,
    sum(cnt - 1) AS surplus_rows
  FROM keyed GROUP BY 1
), by_bucket AS (
  SELECT b.bucket, sum(dup_keys) AS dup_keys, sum(surplus_rows) AS surplus_rows,
    count(*) AS n_convs,
    count(*) FILTER (WHERE NOT (mn = 0 AND mx = distinct_turns - 1)) AS gappy_convs
  FROM convs JOIN {{buckets}} b USING (conv_id) GROUP BY 1
)
SELECT v.bucket, v.n_rows, v.n_invalid, k.dup_keys, k.surplus_rows,
  k.n_convs, k.gappy_convs,
  (v.n_invalid / v.n_rows <= {MAX_INVALID_RATE} AND k.dup_keys = 0
   AND k.gappy_convs = 0) AS bucket_pass
FROM validity v JOIN by_bucket k USING (bucket)
ORDER BY 1
"""

VIOLATIONS_SQL = """
SELECT key, sum(n) FROM (
  SELECT 'conv_id' AS key, count(*) FILTER (WHERE conv_id IS NULL OR conv_id = '') AS n FROM {input}
  UNION ALL SELECT 'turn_idx', count(*) FILTER (WHERE turn_idx < 0) FROM {input}
  UNION ALL SELECT 'role', count(*) FILTER (WHERE role NOT IN {roles}) FROM {input}
  UNION ALL SELECT 'text', count(*) FILTER (WHERE text IS NULL OR text = '') FROM {input}
  UNION ALL SELECT 'tool', count(*) FILTER (WHERE tool NOT IN {tools}) FROM {input}
) GROUP BY 1 HAVING sum(n) > 0 ORDER BY 1
"""

#: the suite's drift profile: categories with nulls as '__null__', text
#: lengths in 20-char buckets, 1000+ in bucket 50, null length -1
PROFILE_SQL = """
SELECT 'cat:role' AS dim, coalesce(role, '__null__') AS k, count(*) AS n FROM {t} GROUP BY 1, 2
UNION ALL
SELECT 'cat:tool', coalesce(tool, '__null__'), count(*) FROM {t} GROUP BY 1, 2
UNION ALL
SELECT 'len:text', CASE WHEN text IS NULL THEN '-1'
                        WHEN length(text) >= 1000 THEN '50'
                        ELSE CAST(length(text) // 20 AS VARCHAR) END,
       count(*) FROM {t} GROUP BY 1, 2
"""


def _profile(con, table: str) -> dict[str, dict[str, float]]:
    counts: dict[str, dict[str, int]] = {}
    for dim, k, n in con.execute(PROFILE_SQL.format(t=table)).fetchall():
        counts.setdefault(dim, {})[k] = n
    return {
        dim: {k: n / sum(c.values()) for k, n in c.items()}
        for dim, c in counts.items()
    }


def _kl(p: dict, q: dict, eps: float = 1e-9) -> float:
    return sum(pv * math.log(pv / max(q.get(k, eps), eps)) for k, pv in p.items() if pv > 0)


def _psi(p: dict, q: dict, eps: float = 1e-6) -> float:
    out = 0.0
    for k in set(p) | set(q):
        pv, qv = max(p.get(k, 0.0), eps), max(q.get(k, 0.0), eps)
        out += (pv - qv) * math.log(pv / qv)
    return out


def expected(input_dir: str, baseline_dir: str, buckets_file: str) -> dict:
    """Expected summary totals, per-bucket verdict rows (tuples of
    ``VERDICT_COLS``), violation rows per key and drift metrics of the job
    over ``input_dir``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        src = _pq(input_dir)
        verdicts = con.execute(
            VERDICTS_SQL.format(input=src, buckets=f"read_parquet('{buckets_file}')")
        ).fetchall()
        violations = dict(
            con.execute(
                VIOLATIONS_SQL.format(input=src, roles=_in(ROLES), tools=_in(TOOLS))
            ).fetchall()
        )
        cur, base = _profile(con, src), _profile(con, _pq(baseline_dir))
    finally:
        con.close()
    drift = {
        "kl_role": _kl(cur["cat:role"], base["cat:role"]),
        "kl_tool": _kl(cur["cat:tool"], base["cat:tool"]),
        "psi_text_len": _psi(cur["len:text"], base["len:text"]),
    }
    col = {c: i for i, c in enumerate(VERDICT_COLS)}
    totals = {
        k: sum(int(v[col[k]]) for v in verdicts)
        for k in ("n_rows", "n_invalid", "dup_keys", "gappy_convs")
    }
    return {
        **totals,
        "buckets": len(verdicts),
        "passed": all(v[col["bucket_pass"]] for v in verdicts),
        "verdicts": verdicts,
        "violations": violations,
        "violation_rows": sum(violations.values()),
        "drift": drift,
    }


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=DRIFT_RTOL, abs_tol=1e-15)


def check_output(summary: dict | None, out_dir: str, exp: dict) -> list[str]:
    """Compare a finished job's summary line and its ``verdicts/``,
    ``violations/`` and ``stats/`` tables with ``exp``; returns the list
    of mismatches (empty when the output is correct)."""
    if summary is None:
        return ["no summary line on stdout"]
    errors = []
    for k in ("n_rows", "n_invalid", "dup_keys", "gappy_convs", "passed"):
        if summary.get(k) != exp[k]:
            errors.append(f"summary {k}={summary.get(k)} expected {exp[k]}")
    if summary.get("completed") != exp["buckets"]:
        errors.append(f"summary completed={summary.get('completed')}")
    drift = summary.get("drift") or {}
    for k, v in exp["drift"].items():
        if not isinstance(drift.get(k), float) or not _close(drift[k], v):
            errors.append(f"drift {k}={drift.get(k)} expected {v}")

    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        got = con.execute(
            f"SELECT {', '.join(VERDICT_COLS)} FROM "
            f"read_parquet('{out_dir}/verdicts/**/*.parquet', hive_partitioning=true)"
            " ORDER BY bucket"
        ).fetchall()
        if got != exp["verdicts"]:
            bad = [g[0] for g, w in zip(got, exp["verdicts"]) if g != w]
            errors.append(
                f"verdicts: {len(got)} rows, expected {len(exp['verdicts'])};"
                f" buckets {bad[:5]} differ"
            )
        viol = dict(
            con.execute(
                "SELECT key, count(*) FROM read_parquet("
                f"'{out_dir}/violations/**/*.parquet', hive_partitioning=true)"
                " GROUP BY 1 ORDER BY 1"
            ).fetchall()
        )
        if viol != exp["violations"]:
            errors.append(f"violations {viol} expected {exp['violations']}")
        stats_dir = os.path.join(out_dir, "stats")
        counts = con.execute(
            f"SELECT DISTINCT value FROM read_parquet('{stats_dir}/*.parquet') "
            "WHERE metric = 'count'"
        ).fetchall()
        if counts != [(float(exp["n_rows"]),)]:
            errors.append(f"stats count rows {counts} expected {exp['n_rows']}")
    except duckdb.Error as e:
        errors.append(f"output tables unreadable: {e}")
    finally:
        con.close()
    return errors


def summary_line(stdout_path: str) -> dict | None:
    """The job's summary: the last JSON object line of its stdout."""
    with open(stdout_path, encoding="utf-8", errors="replace") as f:
        lines = [ln for ln in f.read().splitlines() if ln.startswith("{")]
    for ln in reversed(lines):
        try:
            return json.loads(ln)
        except json.JSONDecodeError:
            continue
    return None

