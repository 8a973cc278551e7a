"""Heavy-tail core-scaling probe (round 16; r15 verdict item 3).

The sf0.1 bench is scheduling/driver-bound (median 8-vs-32-core ratio
1.11 in the r15 driver record), so per-query parallelism claims can't
be demonstrated at that size.  This probe times the slowest registry
queries on a 10× REPLICATED fixture (≈ sf1-equivalent for the big
tables) at two core counts, so the ratio reads the operator's
parallel fraction instead of fixed overhead.

Replication is structure-preserving per family (the SCALE.md round-12
method):

* ``documents`` ×N — doc_id shifted per replica AND every token
  suffixed ``_r<k>``, so duplicate/shingle structure REPLICATES
  instead of densifying (plain row copies would turn each duplicate
  pair into an N-clique and measure an output-volume artifact).
* ``events`` ×N — event_id and user_id shifted (NULL user_ids stay
  NULL); timestamps kept, so the day structure densifies the way a
  growing product does.  Note: ``udf_cogroup_asof`` pins
  ``user_id < 200`` by design, so its Python-group work is fixed and
  only its scan side grows — its flat ratio is expected, not a
  finding.
* ``embeddings`` ×N — vec_id shifted; vectors kept (queries/codebook
  are the vec_id < k originals, the corpus side grows 10×).
* ``lineitem``/``orders`` ×N — order keys shifted (new addresses /
  orders per replica); part/supplier keys kept, so
  ``graph_pagerank_brands``'s brand graph keeps its node set and
  densifies its edges — stated with its row in SCALE.md.

Usage:
    python tools_scale_probe_r16.py build --out /tmp/sfprobe10x [--factor 10]
    SPARK_GRAFT_CPUS=32 python tools_scale_probe_r16.py run --sf /tmp/sfprobe10x
    SPARK_GRAFT_CPUS=8  python tools_scale_probe_r16.py run --sf /tmp/sfprobe10x

``run`` prints one line per query: median-of-3 warm count() seconds
(untimed warm-up first, cache cleared between runs — the bench's
methodology).  It exits non-zero when any query prints ``FAIL`` or no
query is timed, so a failed or empty run cannot pass as a log.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from go_mailio_diskusage_handler_spark import registry  # noqa: E402
from go_mailio_diskusage_handler_spark.session import (  # noqa: E402
    build_session,
    default_parallelism,
)
from go_mailio_diskusage_handler_spark.sources.tables import (  # noqa: E402
    TABLES,
    load_table,
)

SRC_DEFAULT = "/root/testdata/sf0.1"
ID_STRIDE = 10_000_000

#: The queries the probe times — the r16 entry bench's heavy tail.
PROBE_QUERIES = [
    "udtf_table_arg_changes",
    "curation_corpus",
    "curation_keep_best",
    "dedup_eval_pr",
    "dedup_weighted_jaccard",
    "graph_pagerank_brands",
    "udf_cogroup_asof",
    "dedup_clusters",
    "dedup_prefix_jaccard",
    "dedup_triangles",
    "text_ngram_topk",
    "du_multifile",
    "du_scd2_history",
    "sim_ivfpq_rerank_topk",
]


def _replicas(spark, factor: int):
    return F.explode(F.array(*[F.lit(k) for k in range(factor)])).alias("_k")


def build(src: str, out: str, factor: int) -> None:
    spark = build_session("scale-probe-build")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)
    shift = (F.col("_k").cast("long") * ID_STRIDE)

    def write(df, name):
        # 32 part-files per big table: a 100 TB table naturally scans
        # as thousands of splits, and a probe fixture written as 1-3
        # files would time the WRITE layout (a serial scan) instead of
        # the operator — the first 10× run showed exactly that (du_*
        # flat at 8-vs-32 cores because the whole family ran on the
        # ≤3 scan splits).
        path = os.path.join(out, f"{name}.parquet")
        shutil.rmtree(path, ignore_errors=True)
        df.repartition(32).write.mode("overwrite").parquet(path)
        print(f"built {name}: {spark.read.parquet(path).count()} rows")

    docs = load_table(spark, src, "documents")
    d = docs.select("*", _replicas(spark, factor))
    suffix = F.concat(F.lit("_r"), F.col("_k").cast("string"))
    d = d.select(
        (F.col("doc_id") + shift).alias("doc_id"),
        F.when(F.col("_k") == 0, F.col("text")).otherwise(
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "), lambda t: F.concat(t, suffix)
                ),
                " ",
            )
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    write(d, "documents")

    ev = load_table(spark, src, "events").select("*", _replicas(spark, factor))
    ev = ev.select(
        (F.col("event_id") + shift).alias("event_id"),
        "ts",
        (F.col("user_id") + shift).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    write(ev, "events")

    emb = load_table(spark, src, "embeddings").select("*", _replicas(spark, factor))
    emb = emb.select(
        (F.col("vec_id") + shift).alias("vec_id"), "embedding", "label"
    )
    write(emb, "embeddings")

    li = load_table(spark, src, "lineitem").select("*", _replicas(spark, factor))
    li = li.select(
        (F.col("l_orderkey") + shift).alias("l_orderkey"),
        *[c for c in load_table(spark, src, "lineitem").columns if c != "l_orderkey"],
    )
    write(li, "lineitem")

    orders = load_table(spark, src, "orders").select("*", _replicas(spark, factor))
    orders = orders.select(
        (F.col("o_orderkey") + shift).alias("o_orderkey"),
        *[c for c in load_table(spark, src, "orders").columns if c != "o_orderkey"],
    )
    write(orders, "orders")

    for name in TABLES:
        path = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(path):
            load_table(spark, src, name).write.mode("overwrite").parquet(path)
            print(f"copied {name}")
    spark.stop()


def run(sf_dir: str, repeats: int, queries: list[str]) -> int:
    """Time ``queries``; return the process exit code (0 only when every
    query was timed)."""
    spark = build_session("scale-probe-run")
    spark.sparkContext.setLogLevel("ERROR")
    # Per-file-ish splits over the 32-part fixture: openCostInBytes
    # would otherwise pack the ~3 MB files into 2-3 splits and the
    # probe would again time file packing, not the operator.  At real
    # scale maxPartitionBytes=128m already yields thousands of splits,
    # so this emulates, not cheats, the production scan shape.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(512 * 1024))
    cpus = default_parallelism()
    # session warm-up mirroring bench.py
    registry.QUERIES["du_core"](spark, sf_dir).limit(1).collect()
    spark.range(64).repartition(64).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()
    print(f"# cpus={cpus} sf_dir={sf_dir}")
    failed, timed = [], 0
    for name in queries:
        fn = registry.QUERIES[name]
        try:
            fn(spark, sf_dir).count()  # untimed warm-up
        except Exception as exc:
            print(f"{name}: FAIL {type(exc).__name__}: {str(exc)[:200]}")
            failed.append(name)
            spark.catalog.clearCache()
            continue
        finally:
            spark.catalog.clearCache()
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            runs.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        med = sorted(runs)[len(runs) // 2]
        print(f"{name}: cpus={cpus} median={med} runs={runs}", flush=True)
        timed += 1
    spark.stop()
    if failed or not timed:
        print(f"# FAILED: {len(failed)} failed {failed}, {timed} timed",
              file=sys.stderr)
        return 1
    return 0


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build")
    b.add_argument("--src", default=SRC_DEFAULT)
    b.add_argument("--out", required=True)
    b.add_argument("--factor", type=int, default=10)
    r = sub.add_parser("run")
    r.add_argument("--sf", required=True)
    r.add_argument("--repeats", type=int, default=3)
    r.add_argument("--queries", nargs="*", default=None)
    args = ap.parse_args()
    if args.cmd == "build":
        build(args.src, args.out, args.factor)
    else:
        sys.exit(run(args.sf, args.repeats, args.queries or PROBE_QUERIES))


if __name__ == "__main__":
    main()
