#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

    python bench.py                 # driver mode: one config, one JSON line
    python bench.py --scaling       # N vs 4N cores scaling evidence
                                    # (north_rule two-cluster-size criterion)

The headline metric is KG-build throughput (triples/sec) on the
interleaved-doc corpus; per-query wall seconds are reported alongside.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _session(cores: int):
    from r2rml_parser_spark.session import build_session

    return build_session(
        app_name=f"r2rml-bench-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={"spark.ui.enabled": "false"},
    )


HEADLINE = [
    "kg_docs_triples",
    "kg_tpch_triples",
    "mentions",
    "neardup_pairs",
    "text_quality",
    "ann_cosine_topk",
    "connected_components",
    # r3 addition (new key; r1/r2 names unchanged): the SPARQL engine's
    # aggregate-subquery-join over the freshly built TPC-H KG — build +
    # query, timing the query surface itself
    "sparql_subquery_kg",
    # r4 session-2 additions (new keys; earlier names unchanged): the
    # corpus keyword extractor (tokenize + tf/df + per-doc window) and
    # entity PageRank (KG build + 5 integer-exact iterative rounds)
    "tfidf_keywords",
    "kg_pagerank",
]


def _median(xs):
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def bench_queries(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """Run headline queries once; return per-query seconds and sizes."""
    import __spark_entry__ as entry

    qs = entry.queries()
    secs: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in HEADLINE:
        t0 = time.monotonic()
        rows[name] = qs[name](spark, sf_dir).count()
        secs[name] = round(time.monotonic() - t0, 3)
    return secs, rows


def bench_queries_repeated(
    spark, sf_dir: str, repeats: int
) -> tuple[dict[str, float], dict[str, list[float]], dict[str, int]]:
    """Repeated-measures per-query bench (VERDICT r2 #1): the whole
    headline set runs ``repeats`` times in sequence (so slow host
    drift hits every query, not whichever ran last), cold each round
    (clearCache drops operator-internal persists between rounds).
    Returns (median secs, all runs, row counts)."""
    runs: dict[str, list[float]] = {n: [] for n in HEADLINE}
    rows: dict[str, int] = {}
    for _ in range(repeats):
        spark.catalog.clearCache()
        secs, rows = bench_queries(spark, sf_dir)
        for n, s in secs.items():
            runs[n].append(s)
    medians = {n: round(_median(rs), 3) for n, rs in runs.items()}
    return medians, runs, rows


def kg_throughput(spark, sf_dir: str) -> tuple[float, int, float]:
    """(triples/sec, triples, seconds) for the canonicalized KG build."""
    from r2rml_parser_spark.pipeline import build_kg

    t0 = time.monotonic()
    n = build_kg(spark, sf_dir, canonicalize=True).count()
    dt = time.monotonic() - t0
    return n / dt, n, dt


def _materialize_scaled_corpus(spark, sf_dir: str, replicas: int, out_dir: str) -> str:
    """Deterministically replicate documents.parquet ×replicas with a
    per-replica VOCABULARY-SUBSET BIJECTION: every vowel-initial token
    gets the replica id as a suffix. Within a replica this is a token
    bijection, so the shingle/near-dup structure is exactly the original
    corpus's (bijective renames preserve Jaccard); across replicas a
    3-gram shingle survives only if none of its 3 tokens is
    vowel-initial (~0.2³), pushing cross-replica similarity far below
    the LSH band threshold. Consonant-initial tokens keep their surface
    forms, so the mention-detection stage still fires. Two rejected
    schemes: interleaving a salt token poisoned LSH (every in-replica
    pair shared (salt, w, salt) shingles → ~20M candidates for ~3k true
    edges); suffixing EVERY token erased all dictionary surfaces and the
    mention workload with them. sf0.1 stays overhead-bound on 32 local
    cores, so the two-cluster-size criterion is evidenced on this scaled
    corpus."""
    from pyspark.sql import functions as F

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("k")
    scaled = raw.select("*", k).select(
        F.concat(F.col("doc_id").cast("string"), F.lit("r"), F.col("k")).alias("doc_id"),
        F.regexp_replace(
            F.col("text"),
            r"(?<=^|\s)[aeiou][^\s]*",
            F.concat(F.lit("$0r"), F.col("k").cast("string")),
        ).alias("text"),
        "lang", "source", "n_chars",
    )
    scaled.repartition(64).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--scaling", action="store_true",
                    help="run the KG build at N and 4N cores, report efficiency")
    ap.add_argument("--replicas", type=int, default=48,
                    help="corpus replication factor for --scaling")
    ap.add_argument("--repeats", type=int, default=5,
                    help="interleaved (N,4N) pairs for --scaling (median kept)")
    ap.add_argument("--query-repeats", type=int, default=3,
                    help="driver-mode repeats per query/build (median kept)")
    ap.add_argument("--one-build", type=int, metavar="CORES",
                    help="(worker) one isolated cold build at CORES on --sf-dir")
    ap.add_argument("--one-envelope", type=int, metavar="CORES",
                    help="(worker) one isolated envelope calibration at CORES")
    ap.add_argument("--scale-small", type=int, default=None,
                    help="scaling: N cores (default cpus//16; the (1,4) pair "
                         "keeps BOTH configs under 1/8 of a 32-core host so "
                         "neither side saturates the shared memory bus)")
    ap.add_argument("--scale-big", type=int, default=None,
                    help="scaling: 4N cores (default cpus//4)")
    args = ap.parse_args()
    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    if args.one_build is not None:
        # Worker process for --scaling isolation: fresh JVM, JIT-warmed
        # on sf0.001 (outside the timed region), one cold build.
        spark = _session(args.one_build)
        kg_throughput(spark, "/root/testdata/sf0.001")
        spark.catalog.clearCache()
        tps, n, dt = kg_throughput(spark, args.sf_dir)
        print(json.dumps({"tps": tps, "n": n, "dt": dt}))
        return

    if args.one_envelope is not None:
        from pyspark.sql import functions as F

        cores = args.one_envelope
        spark = _session(cores)
        rng = spark.range(0, 60_000_000, 1, cores * 4)
        expr = F.sum(F.xxhash64(F.md5(F.concat(F.col("id").cast("string"), F.lit("x")))))
        rng.select(expr).collect()  # warm
        t0 = time.monotonic()
        rng.select(expr).collect()
        print(json.dumps({"sec": time.monotonic() - t0}))
        return

    if args.scaling:
        import tempfile

        # N vs 4N cores, both ≤ a quarter of the host's 32 physical
        # cores: a config that saturates the host measures
        # shared-resource contention (one JVM heap, memory bandwidth,
        # hypervisor scheduling), not the job's scaling — a pure-codegen
        # calibration job scales ~0.88 at 2→8 cores but only ~0.83 at
        # 4→16 on this host. Methodology against shared-VM noise
        # (observed ±25% between identical back-to-back builds, and
        # slow drifts over tens of minutes):
        #   * configs are INTERLEAVED per repeat — (N, 4N), (N, 4N)...
        #     so a host-slowness drift hits both sides of each pair
        #     instead of biasing whichever config ran last;
        #   * every run gets a FRESH PROCESS (fresh JVM + fresh
        #     SparkContext), JIT-warmed inside the worker on sf0.001
        #     before its one timed cold build. The r1-r3 methodology
        #     (fresh context, SHARED JVM) systematically depressed the
        #     measured ratio: a JVM that has executed previous full
        #     builds carries an aged/fragmented heap + promoted-object
        #     history, and that tax grows with allocation concurrency,
        #     so it hits the 4N side harder than the N side (measured
        #     r4: the spans phase ran 12s at local[2] but 24s at
        #     local[8] when the local[8] session followed a full build
        #     in the same JVM — vs 5s in a fresh process). Per-process
        #     isolation is also the honest model of the north rule's
        #     actual setting: cluster executors launch as fresh JVMs.
        #   * efficiency is computed per pair; the MEDIAN pair is the
        #     headline (ADVICE r2: max-of-N of noisy ratios is biased
        #     upward — an unusually slow small-core run inflates a pair
        #     exactly like a clean big-core run), best + all pairs are
        #     reported alongside;
        #   * the same-day machine envelope (pure-codegen calibration
        #     at both sizes) is measured and reported alongside, since
        #     host conditions move it by several points day to day.
        small = args.scale_small or max(args.cpus // 16, 1)
        big = args.scale_big or (4 * small if args.scale_small else max(args.cpus // 4, 2))
        spark = _session(big)
        scaled_dir = _materialize_scaled_corpus(
            spark, args.sf_dir, args.replicas,
            tempfile.mkdtemp(prefix="r2rml_bench_scale_"),
        )
        spark.stop()

        import subprocess

        me = os.path.abspath(__file__)

        def _worker(flag: str, cores: int, sf_dir: str) -> dict:
            out = subprocess.run(
                [sys.executable, me, flag, str(cores), "--sf-dir", sf_dir],
                capture_output=True, text=True, check=True,
            ).stdout
            return json.loads(out.strip().splitlines()[-1])

        # same-day machine envelope: memory-bandwidth-bound codegen job
        envelope = {}
        for cores in (small, big):
            envelope[cores] = _worker("--one-envelope", cores, args.sf_dir)["sec"]
        env_eff = (envelope[small] / envelope[big]) / (big / small)

        pairs = []
        runs: dict[int, list] = {small: [], big: []}
        for _ in range(args.repeats):
            pair = {}
            for cores in (small, big):
                r = _worker("--one-build", cores, scaled_dir)
                tps, n, dt = r["tps"], r["n"], r["dt"]
                pair[cores] = (tps, n, dt)
                runs[cores].append((tps, n, dt))
            pairs.append(round((pair[big][0] / pair[small][0]) / (big / small), 3))
        med = {c: sorted(rs, key=lambda r: r[0])[len(rs) // 2] for c, rs in runs.items()}
        print(json.dumps({
            "metric": "kg_build_scaling",
            "value": round(med[big][2], 2),
            "unit": "sec",
            "queries": {f"kg_build_local[{c}]": round(med[c][2], 2) for c in med},
            "sf": float(sf),
            "corpus_replicas": args.replicas,
            "throughput": {f"local[{c}]": round(med[c][0], 1) for c in med},
            "throughput_runs": {
                f"local[{c}]": [round(r[0], 1) for r in rs] for c, rs in runs.items()
            },
            "triples": med[big][1],
            # headline = MEDIAN pair (ADVICE r2); best kept as a
            # separate, clearly-labeled field
            "scaling_efficiency": round(_median(pairs), 3),
            "best_pair_efficiency": max(pairs),
            "pair_efficiencies": pairs,
            "machine_envelope_efficiency": round(env_eff, 3),
            "isolation": "process-per-run",
        }))
        return

    spark = _session(args.cpus)
    bench_queries(spark, "/root/testdata/sf0.001")  # warmup/JIT
    # repeated measures (VERDICT r2 #1): 3 interleaved repeats of the
    # full set, median reported per query (the single-run r1/r2 numbers
    # sat inside a ±25% host-noise band; medians separate code from
    # host), all runs listed under query_runs
    secs, query_runs, rows = bench_queries_repeated(
        spark, args.sf_dir, repeats=args.query_repeats
    )
    sf_builds = []
    for _ in range(args.query_repeats):
        spark.catalog.clearCache()
        sf_builds.append(kg_throughput(spark, args.sf_dir))
    tps_sf, n_sf, dt_sf = sorted(sf_builds, key=lambda t: t[2])[len(sf_builds) // 2]
    secs["kg_build_canonicalized"] = round(dt_sf, 3)
    # headline throughput on a ×48 replicated corpus (~36M triples): at
    # raw sf0.1 the 32-core build is fixed-overhead-bound (plan compile,
    # persists, small jobs ≈ half the wall), which understates sustained
    # triples/sec — the quantity the target metric names — by ~6×
    import tempfile

    scaled = _materialize_scaled_corpus(
        spark, args.sf_dir, 48, tempfile.mkdtemp(prefix="r2rml_bench_head_")
    )
    # 3 cold runs (cache cleared — each pays full compute), MEDIAN kept:
    # host timing noise on this shared VM measured up to ±25% between
    # identical back-to-back builds; the median is robust to one bad
    # window where best-of-N is biased up and single-run is unprotected
    builds = []
    for _ in range(args.query_repeats):
        spark.catalog.clearCache()  # cold: no cross-run reuse
        builds.append(kg_throughput(spark, scaled))
    tps, n, dt = sorted(builds, key=lambda t: t[2])[len(builds) // 2]
    secs["kg_build_canonicalized_x48"] = round(dt, 3)
    # metric name carries the corpus (x48-replicated) so the value's
    # meaning can't silently drift vs earlier runs; unit is a rate
    # (ADVICE r1). The raw --sf-dir run stays under sf_dir_* keys.
    print(json.dumps({
        "metric": "kg_build_triples_per_sec_x48",
        "value": round(tps, 1),
        "unit": "triples/sec",
        "queries": secs,
        "sf": float(sf),
        "corpus_replicas": 48,
        "triples": n,
        "sf_dir_triples": n_sf,
        "sf_dir_triples_per_sec": round(tps_sf, 1),
        "rows": rows,
        "repeats": args.query_repeats,
        "query_runs": query_runs,
        "build_runs_sec_x48": [round(b[2], 3) for b in builds],
        "build_runs_sec_sf_dir": [round(b[2], 3) for b in sf_builds],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
