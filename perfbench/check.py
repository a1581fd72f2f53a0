"""Correctness checks, run outside every timed region.

Stream workload:
  * every generated id lands exactly once across the primary (parquet)
    and fallback (JSON lines) outputs, and nothing else lands;
  * the fallback holds exactly as many batches as outages were injected;
  * the sink rows hash-equal a batch-mode run of the same public
    functions over the same inputs.
Query mix: each timed result hash-equals its DuckDB oracle, under the
rule of `tools/verify_local.py` (sorted column names, dtypes, row count,
values in row order, NaN equal to NaN, no float tolerance).

Each check returns (attempted, failed, notes).
"""
import glob
import hashlib
import json
import math
import os
import re

from gen import connect

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SINK_COLS = ("id, author, subreddit, text_content, sentiment, sujet, "
             "round(CAST(score_predit AS DOUBLE), 4) AS score_predit, viralite, "
             "epoch_ms(CAST(creation_date AS TIMESTAMP)) AS creation_ms")
JSON_COLUMNS = ("{'id': 'VARCHAR', 'author': 'VARCHAR', 'subreddit': 'VARCHAR', "
                "'text_content': 'VARCHAR', 'sentiment': 'VARCHAR', 'sujet': 'VARCHAR', "
                "'score_predit': 'DOUBLE', 'viralite': 'VARCHAR', 'creation_date': 'TIMESTAMPTZ'}")


def _parquet(dirs):
    return sorted(f for d in dirs for f in glob.glob(os.path.join(d, "part-*.parquet")))


def _json(dirs):
    return sorted(f for d in dirs for f in glob.glob(os.path.join(d, "part-*.json")))


def sink_rows_sql(primary_dirs, fallback_dirs):
    """SQL over every sink row, normalised to one comparable shape (the
    JSON sink keeps milliseconds and float text, so both sides are cut to
    epoch milliseconds and four decimals)."""
    parts = []
    pq = _parquet(primary_dirs)
    if pq:
        parts.append(f"SELECT {SINK_COLS} FROM read_parquet({pq!r})")
    js = _json(fallback_dirs)
    if js:
        parts.append(f"SELECT {SINK_COLS} FROM read_json({js!r}, format='newline_delimited', "
                     f"columns={JSON_COLUMNS}, timestampformat='%Y-%m-%dT%H:%M:%S.%g%z')")
    if not parts:
        return "SELECT * FROM (SELECT NULL::VARCHAR AS id) WHERE false"
    return " UNION ALL ".join(parts)


def fallback_batches(fallback_dirs):
    """Distinct write jobs in the fallback output: Spark names every file a
    job writes `part-<n>-<job uuid>-c<k>.json`."""
    jobs = set()
    for f in _json(fallback_dirs):
        m = re.match(r"part-\d+-([0-9a-f-]{36})", os.path.basename(f))
        if m:
            jobs.add(m.group(1))
    return len(jobs)


def check_stream(expected_ids, primary_dirs, fallback_dirs, injected_outages, expected_dir):
    con = connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE TEMP VIEW sink AS {sink_rows_sql(primary_dirs, fallback_dirs)}")
    landed = dict(con.execute("SELECT id, count(*) FROM sink GROUP BY id").fetchall())
    expected = set(expected_ids)
    notes = []
    missing = [i for i in expected if i not in landed]
    dup = [i for i, n in landed.items() if n > 1 and i in expected]
    extra = [i for i in landed if i not in expected]
    failed_ids = set(missing) | set(dup) | set(extra)
    if missing:
        notes.append(f"{len(missing)} ids never landed, e.g. {sorted(missing)[:3]}")
    if dup:
        notes.append(f"{len(dup)} ids landed more than once, e.g. {sorted(dup)[:3]}")
    if extra:
        notes.append(f"{len(extra)} unexpected ids landed, e.g. {sorted(extra)[:3]}")
    fb = fallback_batches(fallback_dirs)
    failed = len(failed_ids)
    if fb != injected_outages:
        notes.append(f"fallback holds {fb} batches, {injected_outages} outages were injected")
        failed += 1
    # the batch-mode twin (None: ids and outages only)
    exp_files = _parquet([expected_dir]) if expected_dir else []
    if expected_dir and not exp_files:
        notes.append("batch-mode twin wrote nothing")
        failed += 1
    elif exp_files:
        con.execute(f"CREATE TEMP VIEW twin AS SELECT {SINK_COLS} FROM read_parquet({exp_files!r})")
        h = "SELECT md5(string_agg(CAST(x AS VARCHAR), '|' ORDER BY CAST(x AS VARCHAR))) FROM {} x"
        if con.execute(h.format("sink")).fetchone()[0] != con.execute(h.format("twin")).fetchone()[0]:
            diff = con.execute("SELECT DISTINCT id FROM ((SELECT * FROM sink EXCEPT ALL SELECT * FROM twin) "
                               "UNION ALL (SELECT * FROM twin EXCEPT ALL SELECT * FROM sink))").fetchall()
            bad = {d[0] for d in diff} - failed_ids
            notes.append(f"sink rows differ from the batch-mode twin on {len(diff)} ids")
            failed += max(len(bad), 1)
    con.close()
    return len(expected) + 1, failed, notes


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist"):
        return _norm(v.tolist())
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _norm(x) for k, x in sorted(v.items())}
    return repr(v)


def frame_hash(df):
    """Hash of a result under verify_local's rule: sorted column names,
    their dtypes, and the values row by row (NaN and null equal)."""
    cols = sorted(df.columns)
    h = hashlib.sha256()
    h.update(json.dumps([[c, str(df[c].dtype)] for c in cols]).encode())
    h.update(str(len(df)).encode())
    for row in df[cols].itertuples(index=False, name=None):
        h.update(json.dumps([_norm(x) for x in row]).encode())
    return h.hexdigest()


def check_queries(sf_dir, out_dir, oracle_sql, queries, cache_path=None):
    """The oracle side depends only on the SQL text and the tables, so its
    hashes are kept in `cache_path` and computed once per SQL text."""
    cache = {}
    if cache_path and os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    con = connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failed, notes, hashes = 0, [], {}
    for q in queries:
        files = sorted(glob.glob(os.path.join(out_dir, q, "*.parquet")))
        try:
            if not files:
                raise RuntimeError("no result written")
            got = frame_hash(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
            key = hashlib.sha256(f"{sf_dir}\n{oracle_sql[q]}".encode()).hexdigest()
            if key not in cache:
                cache[key] = frame_hash(con.execute(oracle_sql[q]).fetchdf())
            want = cache[key]
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            failed += 1
            notes.append(f"{q}: {e}")
            continue
        hashes[q] = got
        if got != want:
            failed += 1
            notes.append(f"{q}: result hash differs from the oracle")
    con.close()
    if cache_path:
        with open(cache_path, "w") as fh:
            json.dump(cache, fh)
    return len(queries), failed, notes, hashes
