"""Crawl workloads: the frontier round loop on a generated corpus.

The benchmark drives only public entry points:
``FrontierScheduler.init_state``/``run_round``/``metrics``/``fetched``/
``seen``.  The corpus comes from ``gen_corpus`` with the run's seed and
is cached as parquet outside the timed region; the output is checked
against ``OracleCrawler`` on the same corpus.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler
from crypto_crawler_rs_spark.plans.oracle import OracleCrawler
from crypto_crawler_rs_spark.sources.fixtures import corpus_to_parquet, gen_corpus

from spans import TimingStore, Tracer, maybe_span, parquet_stats, union_length

# Workload shapes.  `budget` overrides every host's budget_per_round;
# `round_s` is the nominal steady-round cost on a 4-CPU box, used only
# to turn --seconds into a fixed round count (see steady_rounds).
WORKLOADS = {
    # many hosts, mild skew, a large budget: every round fetches and
    # extracts thousands of pages and discovers tens of thousands of
    # links through the UDFs, the Bloom prefilter and the exact
    # anti-join, without draining the frontier
    "crawl_broad": {
        "corpus": {"n_pages": 24000, "n_hosts": 512, "n_seeds": 3000,
                   "hot_share": 0.05, "links_per_page": 4},
        "budget": 8,
        "round_s": 6.5,
    },
}

# state writes the engine submits together from concurrent threads
WRITE_GROUPS = {
    "fetch": ("fetched", "host_state", "seen_delta"),
    "discovery": ("frontier", "metrics"),
}
STATE_TABLES = ("frontier", "metrics", "fetched", "host_state", "seen_delta",
                "seen_compact")
PHASES = ("state_reads", "bloom_load", "plan_build_sched", "rank_prepass",
          "plan_build", "fetch_and_state_writes", "bloom_update",
          "discovery_and_frontier_writes", "finalize", "manifest_commit")
# the seen deltas are folded into one bucketed snapshot whenever two
# have piled up, so every steady round runs one compaction (the
# default, every 8 rounds, never fires in a crawl this short)
COMPACT_SEEN_EVERY = 2


def steady_rounds(workload: str, seconds: float) -> int:
    """Steady rounds (after round 0) that fill about ``seconds``.  A
    count, not a deadline, so every commit does the same crawl."""
    return max(3, round(seconds / WORKLOADS[workload]["round_s"]))


def corpus_paths(workload: str, seed: int, cache_root: str) -> tuple[dict, float]:
    """Parquet paths of the workload's corpus, generated on first use
    and cached by (parameters, seed).  Returns (paths, seconds spent
    generating, 0 on a cache hit)."""
    spec = WORKLOADS[workload]
    key = hashlib.sha256(
        json.dumps([spec["corpus"], spec["budget"], seed], sort_keys=True).encode()
    ).hexdigest()[:16]
    out = os.path.join(cache_root, f"{workload}-{seed}-{key}")
    names = ("pages", "seeds", "host_policy")
    paths = {n: os.path.join(out, f"{n}.parquet") for n in names}
    if os.path.exists(os.path.join(out, "_DONE")):
        return paths, 0.0
    t = time.perf_counter()
    corpus = gen_corpus(seed=seed, **spec["corpus"])
    corpus["host_policy"]["budget_per_round"] = np.int32(spec["budget"])
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    corpus_to_parquet(corpus, tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return paths, time.perf_counter() - t


def _read_corpus_pandas(paths: dict) -> dict:
    pages = pd.read_parquet(paths["pages"])
    policy = pd.read_parquet(paths["host_policy"])
    policy["robots_disallow"] = policy["robots_disallow"].map(list)
    return {"pages": pages, "seeds": pd.read_parquet(paths["seeds"]),
            "host_policy": policy}


def check_against_oracle(eng, manifest, paths: dict, n_rounds: int) -> list[str]:
    """Per-round mismatches between the engine and ``OracleCrawler``:
    the scheduled (round, rank_in_round, url, status) sequence, the text
    digest of every fetched page, and (charged to the last round) the
    final seen set.  Returns a list of failed round labels."""
    corpus = _read_corpus_pandas(paths)
    exp = OracleCrawler(corpus["pages"], corpus["host_policy"]).run(
        corpus["seeds"], max_rounds=n_rounds
    )
    cols = ["round", "rank_in_round", "url", "status", "text_sha256"]
    got = (
        eng.fetched(manifest)
        .filter("status in ('ok', 'missing')")
        .select(*cols)
        .toPandas()
    )
    want = exp.fetched[exp.fetched.status.isin(["ok", "missing"])].copy()
    want["text_sha256"] = [
        None if t is None else hashlib.sha256(t.encode("utf-8")).hexdigest()
        for t in want["text"]
    ]

    def rows(df, rnd):
        part = df[df["round"] == rnd].sort_values("rank_in_round")
        return [
            (int(r), int(k), u, s, h if isinstance(h, str) else None)
            for r, k, u, s, h in part[cols].itertuples(index=False)
        ]

    failed = [f"round {r}" for r in range(n_rounds) if rows(got, r) != rows(want, r)]
    seen = eng.seen(manifest)
    got_seen = set() if seen is None else set(seen.select("url").toPandas()["url"])
    if got_seen != exp.seen and f"round {n_rounds - 1}" not in failed:
        failed.append(f"round {n_rounds - 1} (seen set)")
    return failed


def run_crawl(spark, workload: str, seed: int, seconds: float, work_dir: str,
              cache_root: str, tracer: Tracer | None, t_process: float,
              log) -> dict:
    """One crawl run.  Returns the raw measurements; ``run.py`` turns
    them into the reported metrics."""
    n_steady = steady_rounds(workload, seconds)
    n_rounds = 1 + n_steady
    paths, gen_s = corpus_paths(workload, seed, cache_root)

    sdfs = {k: spark.read.parquet(p) for k, p in paths.items()}

    state_dir = os.path.join(work_dir, "state")
    cfg = FrontierConfig(profile_rounds=tracer is not None,
                         compact_seen_every=COMPACT_SEEN_EVERY)
    store = TimingStore(spark, state_dir, tracer) if tracer else None
    eng = FrontierScheduler(spark, sdfs["pages"], sdfs["host_policy"], state_dir,
                            cfg, store=store)
    t = time.perf_counter()
    with maybe_span(tracer, "frontier.init_state"):
        manifest = eng.init_state(sdfs["seeds"])
    init_s = time.perf_counter() - t
    # process start -> first run_round, corpus generation excluded
    setup_s = time.perf_counter() - t_process - gen_s

    round_s: list[float] = []
    round_spans: list[dict] = []
    error = None
    for rnd in range(n_rounds):
        if rnd > 0 and manifest.get("frontier_size") == 0:
            break  # drained: the oracle stops here too
        t = time.perf_counter()
        try:
            with maybe_span(tracer, "frontier.run_round", round=rnd) as rec:
                manifest = eng.run_round(manifest)
            round_spans.append(rec)
        except Exception as ex:  # reported as failed rounds, not a crash
            error = f"round {rnd}: {type(ex).__name__}: {str(ex)[:300]}"
            break
        round_s.append(time.perf_counter() - t)
    log(f"{workload}: rounds {[round(x, 2) for x in round_s]}")

    # -- outside the timed region -------------------------------------
    metrics = eng.metrics(manifest)
    per_round = (
        metrics.groupBy("round").sum().toPandas().set_index("round").sort_index()
        if metrics is not None else pd.DataFrame()
    )
    per_round.columns = [c[4:-1] if c.startswith("sum(") else c for c in per_round.columns]
    if error is None:
        failed = check_against_oracle(eng, manifest, paths, len(round_s))
        failures = len(failed)
        for f in failed:
            log(f"{workload}: MISMATCH vs OracleCrawler at {f}")
    else:
        log(f"{workload}: ERROR {error}")
        failures = n_rounds - len(round_s)
    return {
        "setup_s": setup_s, "init_s": init_s, "round_s": round_s,
        "per_round": per_round, "manifest": manifest,
        # a crawl whose frontier drains early attempts fewer rounds
        "attempted": n_rounds if error else len(round_s),
        "failed": failures, "store": store, "round_spans": round_spans,
        "engine": eng, "gen_s": gen_s,
    }


def crawl_end_to_end(res: dict) -> dict:
    """``crawl_s``, ``urls_per_s`` and ``round_s_p50`` of one run; they
    are reported as ``wall_s``, ``throughput_per_s`` and ``step_s``."""
    steady = res["round_s"][1:]
    pr = res["per_round"]
    steady_pr = pr[pr.index >= 1]
    work = (
        float((steady_pr["scheduled"] + steady_pr["discovered_links"]).sum())
        if "scheduled" in pr else 0.0
    )
    return {
        "crawl_s": sum(res["round_s"]),
        "urls_per_s": work / sum(steady) if steady else 0.0,
        "round_s_p50": statistics.median(steady) if steady else 0.0,
        "steady_rounds": len(steady),
    }


def crawl_layers(res: dict, tracer: Tracer, subtree) -> dict:
    """Per-layer metrics of a traced crawl run (steady rounds unless the
    name says otherwise)."""
    out: dict[str, float] = {}
    rs = res["round_s"]
    out["frontier.init_state_s"] = res["init_s"]
    out["frontier.round0_s"] = rs[0] if rs else 0.0
    out["frontier.round_s_max"] = max(rs[1:]) if len(rs) > 1 else 0.0

    manifest = res["manifest"]
    history = [h for h in manifest.get("timings_history", []) if h["round"] >= 1]
    commits = {c["round"]: c["manifest_commit"]
               for c in getattr(res["engine"], "profile_commits", [])}
    phase_tot = dict.fromkeys(PHASES, 0.0)
    for h in history:
        for p in PHASES[:-1]:
            phase_tot[p] += h.get(p, 0.0)
        phase_tot["manifest_commit"] += commits.get(h["round"], 0.0)
    for p in PHASES:
        out[f"frontier.phase.{p}_s"] = phase_tot[p]
    steady_wall = sum(rs[1:])
    out["frontier.phase_coverage"] = sum(phase_tot.values()) / steady_wall if steady_wall else 0.0

    pr = res["per_round"]
    for c in ("candidates", "scheduled", "fetched_ok", "discovered_links"):
        out[f"frontier.{c}"] = float(pr[c].sum()) if c in pr else 0.0
    out["frontier.final_frontier_size"] = float(manifest.get("frontier_size", 0))
    out["frontier.schedule_ratio"] = (
        out["frontier.scheduled"] / out["frontier.candidates"]
        if out["frontier.candidates"] else 0.0
    )
    pruned = float(pr["bloom_pruned"].sum()) if "bloom_pruned" in pr else 0.0
    links = out["frontier.discovered_links"]
    out["bloom.prune_ratio"] = pruned / links if links else 0.0
    out["bloom.exact_join_rows"] = links - pruned
    out.update(bloom_fill(manifest["bloom"]))

    # state: span times, concurrent write groups, footer statistics
    steady_ids = {s["id"] for s in res["round_spans"] if s["round"] >= 1}
    writes = [s for s in tracer.spans
              if s["parent"] in steady_ids and s["name"].startswith("state.")]
    for t in STATE_TABLES:
        out[f"state.write_s.{t}"] = sum(
            s["end"] - s["start"] for s in writes if s.get("table") == t
        )
    out["state.commit_s"] = sum(
        s["end"] - s["start"] for s in writes if s["name"] == "state.commit"
    )
    for group, tables in WRITE_GROUPS.items():
        total = 0.0
        for rid in steady_ids:
            total += union_length([
                (s["start"], s["end"]) for s in writes
                if s["parent"] == rid and s.get("table") in tables
            ])
        out[f"state.write_group_s.{group}"] = total
    rows = dict.fromkeys(STATE_TABLES, 0)
    size = dict.fromkeys(STATE_TABLES, 0)
    for parent, table, path in res["store"].outputs:
        if parent in steady_ids and table in rows:
            r, b = parquet_stats(path)
            rows[table] += r
            size[table] += b
    for t in STATE_TABLES:
        out[f"state.rows.{t}"] = float(rows[t])
        out[f"state.bytes.{t}"] = float(size[t])
    out["frontier.self_s"] = sum(
        tracer.self_time(s) for s in res["round_spans"] if s["round"] >= 1
    )
    out["state.self_s"] = union_length([(s["start"], s["end"]) for s in writes])
    out.update(subtree(steady_ids))
    return out


def bloom_fill(bloom_path: str) -> dict:
    """Fill of the final Bloom snapshot, per shard, from its
    ``bits.npy``/``meta.json``; ``est_fp`` is the mean of fill^k."""
    with open(os.path.join(bloom_path, "meta.json")) as f:
        meta = json.load(f)
    arr = np.load(os.path.join(bloom_path, "bits.npy"))
    if meta.get("counting"):
        fill = (arr > 0).mean(axis=1)
    else:
        fill = np.unpackbits(arr, axis=1).mean(axis=1)
    k = meta["n_hashes"]
    return {
        "bloom.fill_mean": float(fill.mean()),
        "bloom.fill_max": float(fill.max()),
        "bloom.est_fp": float((fill ** k).mean()),
    }
