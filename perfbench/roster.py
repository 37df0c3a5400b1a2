"""Roster workload: entries of the ``queries()`` roster in
``__spark_entry__.py``, run once each in sorted order on the tables
under ``roster_data/`` and checked against ``oracle_sql()`` on DuckDB.

The timed pass is the first execution of each entry in the session,
after one ``dedup_exact`` warm-up: what a fresh process running the
roster pays, plan code generation and UDF imports included.  A second,
warm pass is not timed: on the 4-CPU reference box its time depends on
how far the JVM's JIT has got (it still speeds up by the fourth pass),
and its quartile spread over ten seeds was twice the first pass's.

The roster's inputs are fixed (the seed-42 tables at the smallest
scale), so the run's seed is recorded but changes nothing, and so is
``--seconds``: the pass is fixed work.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import re
import statistics
import time

import __spark_entry__ as entry
from tools import check_oracles

from spans import Tracer, maybe_span

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "roster_data")
TABLES = check_oracles.TABLES

# One entry per operator/function module that the crawls never reach,
# the incremental and index-based variants of the heaviest ones, and
# five reference operators.  The full 66-entry roster takes ~77 s cold
# on a 4-CPU box even at this scale, which the benchmark's run budget
# cannot hold; see README.md.
QUERIES = sorted([
    # reference operators (TPC-H shaped)
    "a2_pricing_summary", "j3_broadcast_rank", "o2_topk_per_group",
    "u1_union_distinct", "t5_window_budget_pop",
    # operators.*
    "dedup_minhash_lsh", "ann_cosine_topk", "dedup_components",
    "pagerank_hostrank", "prep_corpus", "winnow_passages", "decontaminate",
    "lm_surprisal", "mm1_media_features", "o4_pack_commands",
    "politeness_ewma", "stratified_sample",
    "components_incremental", "ann_cosine_ivf", "dedup_incremental",
    "dedup_ngram_jaccard", "url_trap_patterns",
    # functions.* reached only from the roster
    "lang_id", "m1_msgtype_command_map",
])
WARMUP = "dedup_exact"
REF_OPS = re.compile(r"^([acfjou]\d+_|p1_|t5_|w1_|stream_)")


def modules_of(fn) -> list[str]:
    """Package operator/function modules a roster entry imports."""
    src = inspect.getsource(fn)
    return sorted(set(re.findall(
        r"crypto_crawler_rs_spark\.((?:operators|functions)\.\w+)", src)))


def digest(df) -> str:
    """Digest of a result in the oracle gate's order-insensitive form
    (``tools/check_oracles.norm``), column names included."""
    norm = (sorted(df.columns), check_oracles.norm(df))
    return hashlib.sha256(repr(norm).encode()).hexdigest()


def oracle_digests(work_dir: str, cache_dir: str) -> dict:
    """Digest of each entry's normalized ``oracle_sql()`` result on
    DuckDB.  The roster's inputs are fixed, so the digests are cached
    under a key of the SQL texts, the input files and the DuckDB
    version; any change to one of them recomputes them."""
    import duckdb

    sql = entry.oracle_sql()
    key = hashlib.sha256()
    key.update(duckdb.__version__.encode())
    key.update(inspect.getsource(check_oracles.norm_cell).encode())
    key.update(inspect.getsource(check_oracles.norm).encode())
    for name in QUERIES:
        key.update(f"{name}\0{sql[name]}\0".encode())
    for t in TABLES:
        with open(os.path.join(DATA_DIR, t + ".parquet"), "rb") as f:
            key.update(f.read())
    path = os.path.join(cache_dir, f"roster-oracle-{key.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA_DIR, t + '.parquet')}')")
    out = {name: digest(con.execute(sql[name]).df()) for name in QUERIES}
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def run_roster(spark, work_dir: str, oracle_dir: str, tracer: Tracer | None,
               t_process: float, log) -> dict:
    qs = entry.queries()
    with maybe_span(tracer, "roster.warmup", query=WARMUP):
        qs[WARMUP](spark, DATA_DIR).count()
    spark.catalog.clearCache()
    # process start -> first timed query
    setup_s = time.perf_counter() - t_process

    query_s: dict[str, float] = {}
    got, errors = {}, {}
    t_pass = time.perf_counter()
    with maybe_span(tracer, "roster.pass") as pass_span:
        for name in QUERIES:
            t = time.perf_counter()
            try:
                with maybe_span(tracer, "roster.query", query=name):
                    got[name] = qs[name](spark, DATA_DIR).toPandas()
            except Exception as ex:  # counted as a failed query
                errors[name] = f"{type(ex).__name__}: {str(ex)[:300]}"
            spark.catalog.clearCache()
            query_s[name] = time.perf_counter() - t
    pass_s = time.perf_counter() - t_pass
    log(f"roster: pass {pass_s:.2f} s; query_s " + " ".join(
        f"{q}={v:.2f}" for q, v in query_s.items()))

    # -- outside the timed region -------------------------------------
    expected = oracle_digests(work_dir, oracle_dir)
    failed = 0
    for name in QUERIES:
        if name in errors:
            log(f"roster: ERROR {name}: {errors[name]}")
            failed += 1
        elif digest(got[name]) != expected[name]:
            log(f"roster: MISMATCH vs oracle_sql {name}")
            failed += 1
    return {
        "setup_s": setup_s, "pass_s": pass_s, "query_s": query_s,
        "attempted": len(QUERIES), "failed": failed, "pass_span": pass_span,
    }


def roster_end_to_end(res: dict) -> dict:
    """The typical query latency is the geometric mean over entries, as
    in TPC-H's power metric: the entries' latencies span 0.2-5 s with
    gaps between them, so a median over entries jumps across a gap when
    one entry near the middle drifts, while the geometric mean moves by
    that entry's share."""
    return {
        "roster_s": res["pass_s"],
        "query_s_gmean": statistics.geometric_mean(res["query_s"].values()),
        "queries_per_s": len(QUERIES) / res["pass_s"],
    }


def roster_layers(res: dict) -> dict:
    qs = entry.queries()
    out = {f"q.{q}_s": v for q, v in res["query_s"].items()}
    mods: dict[str, float] = {}
    for q in QUERIES:
        for m in modules_of(qs[q]):
            mods[m] = mods.get(m, 0.0) + out[f"q.{q}_s"]
    for m, v in mods.items():
        out[f"op.{m.split('.', 1)[1]}_s"] = v
    out["ref_ops_s"] = sum(out[f"q.{q}_s"] for q in QUERIES if REF_OPS.match(q))
    return out


def op_metric_names() -> list[str]:
    qs = entry.queries()
    return sorted({f"op.{m.split('.', 1)[1]}_s" for q in QUERIES for m in modules_of(qs[q])})
