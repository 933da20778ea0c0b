"""Benchmark harness — prints ONE JSON line with per-query seconds.

Headline metric: end-to-end transcript-pipeline throughput (turns/sec) for
parse -> sessionize -> aggregate on a deterministic synthetic transcripts
table sized to the scale factor (~3.3 turns per lineitem row, i.e. ~2M
turns at sf0.1).  The transcripts parquet is generated once per sf into
``data/`` and reused.

Two measurement tiers (round-6):

* **in-session paired** (``queries``): every query rides an interleaved
  warm-session group — right for comparing plan VARIANTS of the same work
  within one run, but session-level drift (JVM heap age, page-cache state,
  how long the session has been alive) is NOT cancelled, so these numbers
  are not comparable across rounds (round-5 showed +104..164% on
  byte-identical code purely from session aging).
* **fresh-JVM medians** (``fresh``): the headline groups re-run in
  subprocesses — one fresh JVM per measurement round, 2 in-JVM warm-ups
  per query, median across ``SPARK_GRAFT_BENCH_FRESH_JVMS`` (default 3)
  JVMs.  THESE are the round-over-round comparable numbers; the top-level
  ``value`` comes from here when available.

Env:
  SPARK_GRAFT_SF_DIR            input scale dir   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS              local[N] cores    (default all)
  SPARK_GRAFT_BENCH_FRESH       0 disables the fresh-JVM tier (default 1)
  SPARK_GRAFT_BENCH_FRESH_JVMS  JVMs per fresh median (default 3)

Also measured: the Arrow parser vs the column-expression parser (the
Spark analogue of the reference's split-vs-regex study,
quake3-server-events/benches/parsing_strategies.rs), the extended exact
fold, fan-out routing, and the generic engine queries.

Run ``python scripts/scaling_bench.py`` for the N-vs-4N-cores scaling
evidence (BASELINE.md protocol).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

REPO = Path(__file__).resolve().parent
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

# transcripts per sf: ~10 turns per orders row (sf0.1 -> ~2.0M turns)
TURNS_PER_CONV = 600


def ensure_transcripts(
    spark, sf_name: str, n_rows_hint: int, hot_conv_factor: int = 8, tag: str = ""
) -> str:
    """Generate (once) and return the path of the bench transcripts table."""
    from quake3_log_analyser_spark.datagen import generate_transcripts

    n_convs = max(64, n_rows_hint // TURNS_PER_CONV)
    path = str(
        REPO / "data" / f"transcripts_{sf_name}_{n_convs}x{TURNS_PER_CONV}{tag}"
    )
    marker = Path(path) / "_SUCCESS"
    if not marker.exists():
        df = generate_transcripts(
            spark,
            n_convs=n_convs,
            turns_per_conv=TURNS_PER_CONV,
            malformed_per_mille=5,
            hot_conv_factor=hot_conv_factor,
            partitions=CPUS * 2,
        )
        df.write.mode("overwrite").parquet(path)
    return path


def ensure_ann_tables(spark, n_vec: int = 400_000, dim: int = 64) -> tuple[str, str]:
    """Generate (once) a float32 embedding corpus and its int8-quantized
    twin.  Deterministic JVM-side synthesis (sin over the row id — no
    driver RNG), so every round benches identical bytes.  The int8 table
    is what a 100 TB ANN corpus would materialize: 3.5× smaller on disk
    (measured: 101 MB vs 29 MB at 400k×64) — the saving is bytes stored
    /scanned/shuffled; local warm-cache compute ties (see the paired
    group below)."""
    from pyspark.sql import functions as F

    from quake3_log_analyser_spark.operators.ann import quantize_int8

    fpath = str(REPO / "data" / f"ann_f32_{n_vec}x{dim}")
    qpath = str(REPO / "data" / f"ann_i8_{n_vec}x{dim}")
    if not (Path(qpath) / "_SUCCESS").exists():
        vecs = spark.range(n_vec, numPartitions=CPUS * 2).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: F.sin(
                    F.col("id").cast("double") * i.cast("double") * 0.6180339887
                ).cast("float"),
            ).alias("embedding"),
        )
        vecs.write.mode("overwrite").parquet(fpath)
        quantize_int8(spark.read.parquet(fpath)).select(
            "vec_id", "q_embedding", "q_scale"
        ).write.mode("overwrite").parquet(qpath)
    return fpath, qpath


def ensure_span_docs(spark, n_docs: int = 400_000) -> str:
    """Generate (once) the 400k-doc synthetic corpus the span-dedup and
    BM25 benches read.  MATERIALIZED, not generated per scan — measuring
    an operator over an inline generator frame re-runs the 16M-xxhash64
    synthesis inside every scan and times the generator, not the operator.

    Per-doc pseudo-random tokens: doc bodies share NO grams (xxhash64 mix
    on (doc_id, position) — an AFFINE mix here makes doc A a shifted copy
    of doc B whenever a*(idA-idB) = b*shift mod p, and every doc matches),
    so only the injected boilerplate tail is cross-document-duplicated —
    span detection sees realistic selectivity, and the boilerplate tokens
    give BM25 query terms at two selectivities (10% and 90% of docs)."""
    from pyspark.sql import functions as F

    path = str(REPO / "data" / f"span_docs_{n_docs // 1000}k")
    if not (Path(path) / "_SUCCESS").exists():
        spark.range(n_docs, numPartitions=CPUS * 2).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(1), F.lit(36)),
                        lambda i: F.concat(
                            F.lit("w"),
                            F.pmod(F.xxhash64(F.col("id"), i), F.lit(999983))
                            .cast("string"),
                        ),
                    ),
                ),
                F.when(
                    F.col("id") % 10 == 0,
                    F.lit(
                        " all rights reserved subject to the site terms of use"
                    ),
                ).otherwise(F.lit(" tail")),
            ).alias("text"),
        ).write.mode("overwrite").parquet(path)
    return path


def ensure_neardup_docs(spark, n_docs: int = 200_000) -> str:
    """Generate (once) a corpus with REAL near-duplicate pairs for the
    LSH join-shape bench: docs ``4k`` and ``4k+1`` share 36 of their 40
    tokens (Jaccard ~0.82 — above any sane threshold), the other half of
    the corpus is all-unique.  ~n_docs/4 true near-dup pairs, so the
    candidate join and the exact verify both carry real volume — a corpus
    with no near-dups (span_docs) would measure only the banding scan."""
    from pyspark.sql import functions as F

    path = str(REPO / "data" / f"neardup_docs_{n_docs // 1000}k")
    if not (Path(path) / "_SUCCESS").exists():
        grp = F.when(
            F.col("id") % 4 < 2, (F.floor(F.col("id") / 2) * 2).cast("long")
        ).otherwise(F.col("id"))
        body = F.transform(
            F.sequence(F.lit(1), F.lit(36)),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(grp, i), F.lit(999983)).cast("string"),
            ),
        )
        tail = F.transform(
            F.sequence(F.lit(37), F.lit(40)),
            lambda i: F.concat(
                F.lit("t"),
                F.pmod(F.xxhash64(F.col("id"), i), F.lit(999983)).cast("string"),
            ),
        )
        spark.range(n_docs, numPartitions=CPUS * 2).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.concat(body, tail)).alias("text"),
        ).write.mode("overwrite").parquet(path)
    return path


def ensure_bm25_index(spark, docs_path: str, n_buckets: int = 64) -> str:
    """Build (once) the bucket-partitioned BM25 inverted index over the
    span-docs corpus — the one-time linear build ``bm25_topk_indexed``
    amortizes."""
    from quake3_log_analyser_spark.operators.retrieval import bm25_write_index

    path = str(REPO / "data" / f"bm25_idx_400k_b{n_buckets}")
    if not (Path(path) / "stats" / "_SUCCESS").exists():
        bm25_write_index(spark.read.parquet(docs_path), path, n_buckets=n_buckets)
    return path


def ensure_bucketed(spark, tpath: str, n_buckets: int = 32) -> str:
    """Bucketed + sorted twin of the bench table: the sessionize window
    reads it with NO shuffle and NO sort (SURVEY.md §4 scale lever).

    Location and table name carry ``n_buckets`` so differently-bucketed
    twins of the same table never register a DDL whose bucket count
    contradicts the files (the previous bare ``_bucketed`` suffix let a
    64-bucket caller claim a 32-bucket directory)."""
    from quake3_log_analyser_spark.schemas import TRANSCRIPT_SCHEMA

    suffix = f"_bucketed{n_buckets}"
    loc = tpath + suffix
    tbl = f"bench_transcripts{suffix}"
    ddl_cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in TRANSCRIPT_SCHEMA)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if not (Path(loc) / "_SUCCESS").exists():
        df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(tpath)
        (
            df.repartition(n_buckets, "conv_id")
            .write.mode("overwrite")
            .bucketBy(n_buckets, "conv_id")
            .sortBy("conv_id", "turn_idx")
            .option("path", loc)
            .saveAsTable(tbl)
        )
    else:
        spark.sql(
            f"CREATE TABLE {tbl} ({ddl_cols}) USING parquet "
            f"CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx) "
            f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
        )
    return tbl


# group name -> builder; shared between the in-session paired tier and the
# fresh-JVM worker so BOTH tiers measure the identical plans
FRESH_GROUPS = ("pipeline", "fanout", "dedup_hot")


def build_headline_groups(spark) -> tuple[dict[str, dict], dict]:
    """Thunks for the headline (fresh-JVM-eligible) groups plus run
    metadata.  Every thunk is self-contained: the fresh worker calls these
    in a brand-new JVM with nothing warmed."""
    from pyspark.sql import functions as F

    from quake3_log_analyser_spark.operators.dedup import dedup_survivors
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.route import write_sinks
    from quake3_log_analyser_spark.operators.sessionize import sessionize
    from quake3_log_analyser_spark.operators.translate import translate
    from quake3_log_analyser_spark.plans.pipeline import (
        full_pipeline_ops,
        summarize_matches,
    )
    from quake3_log_analyser_spark.presentation import render_conv_reports
    from quake3_log_analyser_spark.schemas import TRANSCRIPT_SCHEMA

    sf_name = Path(SF_DIR).name
    orders_rows = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    tpath = ensure_transcripts(spark, sf_name, orders_rows * 10)
    transcripts = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(tpath)
    n_turns = transcripts.count()

    btbl = ensure_bucketed(spark, tpath)
    bucketed = spark.table(btbl)

    # skew posture (north rule): ONE conversation holds ~10% of all turns.
    # The skew lands on the sessionize window (partitionBy conv_id — a
    # co-location requirement AQE cannot split), so this measures the
    # straggler cost relative to the uniform table.  hot_conv_factor f
    # gives conv0 f*TURNS turns: f = base/(9*TURNS) puts ~10% on conv0.
    n_convs = max(64, orders_rows * 10 // TURNS_PER_CONV)
    hot_factor = max(2, n_convs // 9)
    skew_path = ensure_transcripts(
        spark, sf_name, orders_rows * 10, hot_conv_factor=hot_factor, tag="_skew"
    )
    skewed = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(skew_path)
    n_skew_turns = skewed.count()

    head_result: dict = {}

    def run_pipeline():
        out = summarize_matches(transcripts, ops={"kills"})
        row = out.agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sum("total_kills").alias("kills"),
        ).collect()[0]
        head_result["n_matches"] = row["n_matches"]
        return row

    def run_pipeline_bucketed():
        out = summarize_matches(bucketed, ops={"kills"})
        return out.agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sum("total_kills").alias("kills"),
        ).collect()[0]

    def run_pipeline_skewed():
        out = summarize_matches(skewed, ops={"kills"})
        return out.agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sum("total_kills").alias("kills"),
        ).collect()[0]

    # single-pass multi-op vectorized summary (round-4: ONE scan + ONE
    # shuffle for kills+means+scores; the old branch-join form re-ran the
    # parse+window DAG per aggregate branch)
    def run_pipeline_multiop():
        return summarize_matches(
            transcripts, ops={"kills", "means_of_death", "reported_scores"}
        ).agg(F.count(F.lit(1))).collect()

    sink_dir = str(REPO / "data" / f"sinks_{sf_name}")
    sink_dir_clustered = str(REPO / "data" / f"sinks_{sf_name}_clustered")

    # fan-out routing: direct write (every upstream task scatters a file
    # into every sink directory) vs pre-clustered (one repartition bounds
    # output at sinks x CPUS files and cuts task-commit round-trips — the
    # 100x-scale shape; see operators/route.py::write_sinks)
    fanout = {
        # extended exact fold (applyInPandas per conv)
        "pipeline_extended": lambda: summarize_matches(
            transcripts, ops=full_pipeline_ops()
        ).agg(F.count(F.lit(1))).collect(),
        # distributed JSON reports (exact fold + reference-format
        # renderer, one grouped-map per conversation)
        "json_report": lambda: render_conv_reports(
            translate(parse_transcripts(transcripts))
        ).agg(F.count(F.lit(1)), F.sum(F.length("report"))).collect(),
        # fan-out routing (writes all five sinks; disk-bound)
        "route_sinks": lambda: write_sinks(
            sessionize(parse_transcripts(transcripts)), sink_dir
        ),
        "route_sinks_clustered": lambda: write_sinks(
            sessionize(parse_transcripts(transcripts)),
            sink_dir_clustered,
            files_per_sink=CPUS,
        ),
    }

    # hot-fingerprint dedup (viral-boilerplate skew): ONE text duplicated
    # into 25% of an 8M-row table, so the survivor join-back's SMJ puts
    # every copy of that fingerprint in one task unless AQE's skew-join
    # splits it at runtime.  Paired AQE-on vs skew-split-off so the rescue
    # is MEASURED.  Full salting (dedup_survivors(salts=8)) is deliberately
    # NOT benchmarked at this scale: the keepers side is one row per
    # DISTINCT fingerprint — corpus-sized at low dup rates — and salts x
    # replication through the shuffle regresses catastrophically (measured:
    # timeout at 16M rows); see operators/skew.py.
    n_hot, n_uniq = 2_000_000, 6_000_000
    hot_docs = spark.range(n_hot + n_uniq).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < n_hot, F.lit("the same viral boilerplate text")
        )
        .otherwise(F.concat(F.lit("unique document "), F.col("id").cast("string")))
        .alias("text"),
    )

    def dedup_hot_aqe_off():
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        try:
            return dedup_survivors(hot_docs).count()
        finally:
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    groups = {
        "pipeline": {
            "pipeline_kills": run_pipeline,
            "pipeline_kills_bucketed": run_pipeline_bucketed,
            "pipeline_kills_skewed": run_pipeline_skewed,
            "pipeline_multiop": run_pipeline_multiop,
        },
        "fanout": fanout,
        "dedup_hot": {
            "dedup_hot": lambda: dedup_survivors(hot_docs).count(),
            "dedup_hot_noskewaqe": dedup_hot_aqe_off,
        },
    }
    meta = {
        "sf_name": sf_name,
        "n_turns": n_turns,
        "transcripts": transcripts,
        "head_result": head_result,
        "skew_hot_share": round(hot_factor * TURNS_PER_CONV / n_skew_turns, 3),
    }
    return groups, meta


def fresh_worker(group_name: str) -> None:
    """Subprocess entry: measure ONE headline group in a brand-new JVM —
    2 in-JVM warm-up reps per query (codegen/JIT + page-cache), then one
    timed rep per query, printed as one JSON line.  The parent medians
    across JVMs."""
    from quake3_log_analyser_spark.session import get_spark

    spark = get_spark("bench-fresh", cpus=CPUS, shuffle_partitions=CPUS)
    groups, _ = build_headline_groups(spark)
    group = groups[group_name]
    for _ in range(2):
        for fn in group.values():
            fn()
    out = {}
    for name, fn in group.items():
        t0 = time.perf_counter()
        fn()
        out[name] = round(time.perf_counter() - t0, 3)
    print(json.dumps(out))
    spark.stop()


def run_fresh_tier(jvms: int) -> dict[str, float]:
    """Fresh-JVM medians for every headline group: ``jvms`` subprocesses
    per group (scripts/scaling_bench.py's per-point pattern), each JVM
    fresh, median per query across JVMs.  Data tables already exist on
    disk (the in-session tier materialized them), so workers only read."""
    samples: dict[str, list[float]] = {}
    for g in FRESH_GROUPS:
        for j in range(jvms):
            r = subprocess.run(
                [sys.executable, str(REPO / "bench.py"), "--fresh-worker", g],
                capture_output=True,
                text=True,
                timeout=1800,
                cwd=str(REPO),
            )
            lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
            if r.returncode != 0 or not lines:
                raise RuntimeError(
                    f"fresh worker {g} jvm{j} failed: {r.stderr[-2000:]}"
                )
            for k, v in json.loads(lines[-1]).items():
                samples.setdefault(k, []).append(v)
            sys.stderr.write(f"fresh {g} jvm{j}: {lines[-1]}\n")
    return {
        k: round(sorted(v)[len(v) // 2], 3) for k, v in samples.items()
    }


def main() -> None:
    from pyspark.sql import functions as F

    from quake3_log_analyser_spark.session import get_spark
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    import __spark_entry__ as entrymod

    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=CPUS)
    groups, meta = build_headline_groups(spark)
    sf_name, n_turns = meta["sf_name"], meta["n_turns"]
    transcripts = meta["transcripts"]

    timings: dict[str, float] = {}

    # In-session protocol (BENCH/BASELINE.md: this VM shows 1.5-2x
    # run-to-run drift): TWO warm-up runs per query, then the MEDIAN of
    # three timed runs, with every query riding an interleaved group.
    WARMUPS = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUPS", 2))
    REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", 3))

    def bench_paired(group: dict, reps: int = REPS):
        """Interleaved paired measurement for plan VARIANTS of the same
        work: warm every variant, then run rounds A/B/C/A/B/C... and take
        per-variant medians.  In-session drift (page cache, governor, JIT
        tiers) then hits all variants equally instead of whichever ran
        last — right for WITHIN-RUN variant comparisons.  It does NOT make
        numbers comparable across sessions: a longer session ages the JVM
        heap and page cache under later groups (round-5 measured +104-164%
        on byte-identical code).  Cross-round comparisons belong to the
        fresh-JVM tier (``fresh`` in the output)."""
        results = {}
        for name, fn in group.items():
            for _ in range(WARMUPS):
                results[name] = fn()
        times = {name: [] for name in group}
        for _ in range(reps):
            for name, fn in group.items():
                t0 = time.perf_counter()
                results[name] = fn()
                times[name].append(time.perf_counter() - t0)
        for name, ts in times.items():
            ts.sort()
            timings[name] = round(ts[len(ts) // 2], 3)
        return results

    # GLOBAL warm-up: the first measured query otherwise eats the whole
    # JVM/VM settling window (JIT, page cache, governor) — observed as the
    # first query reading 1.5-2x its steady state even with its own two
    # per-query warm-ups
    for _ in range(2):
        groups["pipeline"]["pipeline_kills"]()

    # the plan variants of the SAME headline work are measured interleaved
    # (A/B/C/D rounds, median per variant); multiop rides the same group so
    # the 3-op-vs-1-op overhead is a same-window read
    bench_paired(groups["pipeline"])
    head = meta["head_result"]

    # parser comparison (reference: split vs regex, 3200x — ours: JVM
    # expressions vs pyarrow kernels via mapInArrow).  Interleaved: the round-4 artifact
    # showed +40% on parse_arrow purely from sequential in-session drift.
    def run_parse(parser):
        def _f():
            return (
                parse_transcripts(transcripts, parser=parser)
                .agg(F.count("event_type").alias("n"))
                .collect()[0]["n"]
            )
        return _f

    bench_paired(
        {
            "parse_arrow": run_parse("arrow"),
            "parse_expr": run_parse("expr"),
        }
    )

    # grouped-map / fan-out pipelines (incl. the route_sinks direct-vs-
    # clustered write pair) and the hot-fingerprint dedup pair
    bench_paired(groups["fanout"])
    bench_paired(groups["dedup_hot"])

    # cross-document repeated-substring spans (round-5): 400k docs x ~46
    # tokens (~18M gram windows through explode -> doc-freq agg -> join-
    # back -> interval merge), 10% carrying a shared 10-token boilerplate
    # tail.  span_detect is detection only; span_strip adds the span
    # join-back + JVM token filter over the full corpus.
    from quake3_log_analyser_spark.operators.dedup import (
        duplicated_spans,
        minhash_lsh_pairs,
        minhash_lsh_pairs_carry,
        strip_spans,
    )

    span_docs = spark.read.parquet(ensure_span_docs(spark))

    def span_detect():
        return duplicated_spans(span_docs, n=8).count()

    def span_strip():
        sp = duplicated_spans(span_docs, n=8)
        return strip_spans(span_docs, sp).agg(
            F.sum(F.length("text"))
        ).collect()[0][0]

    bench_paired({"span_detect": span_detect, "span_strip": span_strip})

    # LSH candidate-join shape (round-6): slim band join (ids only; grams
    # join back onto the deduplicated pairs for the verify — shuffle
    # O(corpus x bands) + O(pairs x gram_bytes)) vs the gram-carrying form
    # (grams ride every banded row — O(corpus x bands x gram_bytes)).
    # Same verified pairs by construction (pinned in tests); measured over
    # a corpus with ~50k REAL near-dup pairs so the verify carries volume.
    nd_docs = spark.read.parquet(ensure_neardup_docs(spark))
    bench_paired(
        {
            "lsh_pairs_slim": lambda: minhash_lsh_pairs(
                nd_docs, n=1, n_hashes=16, bands=4, threshold=0.7
            ).count(),
            "lsh_pairs_carry": lambda: minhash_lsh_pairs_carry(
                nd_docs, n=1, n_hashes=16, bands=4, threshold=0.7
            ).count(),
        }
    )

    # BM25 brute vs inverted-index over the same 400k-doc corpus and the
    # same 3-term query (terms at 10%/10%/90% doc frequency).  The brute
    # path tokenizes the corpus per query; the indexed path reads only
    # the query terms' bucket directories of the prebuilt postings
    # (static partition pruning) — the pruning claim, measured.
    from quake3_log_analyser_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
    )

    bm25_terms = ["reserved", "terms", "tail"]
    bm25_idx = ensure_bm25_index(spark, ensure_span_docs(spark))
    bench_paired(
        {
            "bm25_brute": lambda: bm25_topk(span_docs, bm25_terms, k=10).collect(),
            "bm25_indexed": lambda: bm25_topk_indexed(
                spark, bm25_idx, bm25_terms, k=10
            ).collect(),
        }
    )

    # float32 vs int8 brute-force ANN: identical top-k work over the same
    # 1.6M x 64 vectors, one table materialized as float arrays (~400 MB
    # parquet), the twin pre-quantized to int8 at "ingest" (~115 MB —
    # 3.5x smaller, the measured storage/wire claim).  MEASURED RESULT on
    # this box: the pair TIES (~3.8 vs ~4.0 s at 2 queries; 9.1 vs 9.4 s
    # at 16 queries over 400k) — both tables sit in page cache, so
    # array-decode + dot-product compute dominates and the byte saving
    # is invisible locally.  The int8 win is the 3.5x fewer bytes
    # scanned/shuffled, which pays on cold object-storage reads and
    # cross-node shuffles, NOT local arithmetic — kept paired in the
    # artifact so the claim stays honest round over round.
    from quake3_log_analyser_spark.operators.ann import (
        cosine_topk,
        quantized_cosine_topk,
    )

    fpath, qpath = ensure_ann_tables(spark, n_vec=1_600_000)
    fvec = spark.read.parquet(fpath)
    qvec = spark.read.parquet(qpath)
    fq = fvec.filter(F.col("vec_id") < 2)
    qq = qvec.filter(F.col("vec_id") < 2)
    bench_paired(
        {
            "ann_brute_f32": lambda: cosine_topk(fvec, fq, k=10)
            .agg(F.count(F.lit(1)))
            .collect(),
            "ann_brute_i8": lambda: quantized_cosine_topk(
                qvec, qq, k=10, pre_quantized=True
            )
            .agg(F.count(F.lit(1)))
            .collect(),
        }
    )

    # SemDeDup pair: 25k vectors, 512 vs 128 cells.  SIZING NOTE (measured
    # before committing this group): the sin-vector family is
    # pathologically self-similar — ~97% of rows have a >= 0.9 in-cell
    # neighbor at ANY granularity — so in-cell pair volume is huge
    # relative to a real corpus (1-30% near-dup), and at 100k vectors the
    # group ran MINUTES per rep (the 4096-cell assignment alone is
    # ~50 Gflop of per-worker BLAS against this box's DRAM ceiling).  At
    # 25k the two granularities TIE (~5-6 s: fixed stage overhead +
    # assignment dominate, pair volume saturates) — the pair is kept to
    # pin semdedup's absolute cost round-over-round, not to prove the
    # granularity law here; the law (pairs scale with sum(cell^2), so
    # n_centroids grows with the corpus to hold E[cell] constant) is the
    # operator's docstring contract and the numpy probe's result,
    # re-measured if the vector family ever changes.  Centroids are
    # seeded outside the timed region (index-build vs query split, same
    # as the IVF/BM25 pairs).
    from quake3_log_analyser_spark.operators.ann import (
        ivf_seed_centroids,
        semdedup,
    )

    # repartition after the id filter: the 25k survivors live in the
    # first ~2 of the table's 64 file partitions, which would run the
    # assignment UDF on straggler tasks (measured at 100k: the whole
    # pair serialized behind 4 tasks) — an even spread is also the
    # honest shape, since a real corpus arrives evenly partitioned
    sd_corpus = (
        fvec.filter(F.col("vec_id") < 25_000)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        .repartition(CPUS)
    )
    sd_cent_fine = ivf_seed_centroids(sd_corpus, 512)
    sd_cent_coarse = ivf_seed_centroids(sd_corpus, 128)
    bench_paired(
        {
            "semdedup_fine": lambda: semdedup(
                sd_corpus, threshold=0.9, centroids=sd_cent_fine
            )
            .agg(F.count(F.lit(1)))
            .collect(),
            "semdedup_coarse": lambda: semdedup(
                sd_corpus, threshold=0.9, centroids=sd_cent_coarse
            )
            .agg(F.count(F.lit(1)))
            .collect(),
        }
    )

    # generic engine queries on the sf tables (one interleaved group:
    # every query in the artifact is either paired or fresh-JVM)
    qs = entrymod.queries()
    bench_paired(
        {
            qname: (lambda qn=qname: qs[qn](spark, SF_DIR).collect())
            for qname in ["tpch_q1", "top_customers", "event_gap_sessions"]
        }
    )

    # fresh-JVM tier: one subprocess per (group, jvm), medians across
    # JVMs — the ROUND-OVER-ROUND comparable numbers.  The in-session
    # spark stays alive (idle) but holds no CPU; workers read the tables
    # this session already materialized.
    fresh: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_FRESH", "1") != "0":
        jvms = int(os.environ.get("SPARK_GRAFT_BENCH_FRESH_JVMS", 3))
        fresh = run_fresh_tier(jvms)

    pipeline_sec_sess = timings["pipeline_kills"]
    pipeline_sec = fresh.get("pipeline_kills", pipeline_sec_sess)
    best_sec = min(
        pipeline_sec,
        fresh.get(
            "pipeline_kills_bucketed",
            timings.get("pipeline_kills_bucketed", pipeline_sec),
        ),
    )
    turns_per_sec = round(n_turns / best_sec) if best_sec > 0 else 0
    print(
        json.dumps(
            {
                "metric": "transcript_pipeline_e2e_seconds",
                "value": pipeline_sec,
                "value_source": (
                    "fresh_jvm_median" if fresh else "in_session_median"
                ),
                "unit": "sec",
                "queries": timings,
                "fresh": fresh,
                "sf": sf_name,
                "n_turns": n_turns,
                "turns_per_sec": turns_per_sec,
                "turns_per_sec_insession": (
                    round(n_turns / pipeline_sec_sess)
                    if pipeline_sec_sess > 0
                    else 0
                ),
                "n_matches": head.get("n_matches"),
                "cpus": CPUS,
                "protocol": (
                    f"in-session: {WARMUPS} warmups + median of {REPS}, "
                    "interleaved groups; fresh: median across "
                    f"{int(os.environ.get('SPARK_GRAFT_BENCH_FRESH_JVMS', 3))}"
                    " fresh JVMs, 2 in-JVM warmups each"
                ),
                "skew_hot_share": meta["skew_hot_share"],
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--fresh-worker":
        fresh_worker(sys.argv[2])
    else:
        main()
