"""Dump `explain("formatted")` physical plans.

Two modes:

    python tools/dump_plans.py <sf_dir> > PLANS.txt
        the physical-plan audit behind SCALE.md: headline operators plus
        selected catalog queries, printed to stdout, so the claims
        (pushdown, broadcast, exchange counts, WindowGroupLimit, partial
        aggregation) can be re-checked after any change;

    python tools/dump_plans.py <sf_dir> --out-dir plans/r15 --tag before
        before/after evidence files: one `<name>_<tag>.txt` per catalog
        query and per bench-only operator frame.

``--only REGEX`` restricts either mode to matching names. ``sf_dir`` is
a test-data directory (TESTDATA.md); it defaults to $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

#: catalog queries in the stdout audit, by name (the driver entry point)
AUDIT_QUERIES = (
    "x09_top_tokens",
    "h03_shipping_priority",
    "h05_local_supplier_volume",
    "h21_waiting_suppliers",
    "x17_bm25_topk",
    "g01_pagerank_copurchase",
    "pl15_merge_upsert",
    "pl16_snapshot_diff",
    "pl19_temperature_mixture",
    "pl21_prepare_training_run",
    "a23_rolling_1h_features",
    "d12_edit_distance_pairs",
    "x25_countmin_heavy_hitters",
    "a24_event_transitions",
    "pl23_context_target_pairs",
    "pl24_negative_samples",
    "x26_bigram_lm_counts",
    "a25_cusum_alerts",
)


def operator_frames(spark, sf_dir):
    """Thunks for the operator compositions that are not catalog
    queries, built exactly as bench.py builds them."""
    from tabular_to_parquet_spark.operators import dedup, similarity
    from tabular_to_parquet_spark.operators import pipeline as pl
    from tabular_to_parquet_spark.operators import text_analysis as ta
    from tabular_to_parquet_spark.operators.joins import (
        asof_join,
        range_join_binned,
    )
    from tabular_to_parquet_spark.operators.skew import salted_agg
    from tabular_to_parquet_spark.sources.tables import load_table
    from tabular_to_parquet_spark.streaming.streams import (
        sessionize_frame,
        windowed_event_stats_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    events = load_table(spark, sf_dir, "events")
    queries = emb.filter(F.expr("vec_id % 50 = 0"))

    def _asof():
        clicks = events.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        purchases = (
            events.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.sum(F.floor(F.col("value") * 100)).alias("cents"))
        )
        return asof_join(clicks, purchases, on="ts", by="user_id")

    def _range():
        errors = events.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"), F.unix_micros("ts").alias("t_us")
        )
        signups = events.filter(F.col("event_type") == "signup").select(
            F.col("event_id").alias("signup_id"),
            F.unix_micros("ts").alias("lo_us"),
            (F.unix_micros("ts") + 1_800_000_000).alias("hi_us"),
        )
        return range_join_binned(
            errors, signups, "t_us", "lo_us", "hi_us", 1_800_000_000
        )

    def _dup_clusters():
        pairs = dedup.minhash_pairs(docs, threshold=0.5)
        return dedup.dup_clusters(pairs, docs.select("doc_id"), hops=2)

    def _decontaminate():
        eval_df = docs.where(F.expr("doc_id % 97 = 0"))
        corpus = docs.where(~F.expr("doc_id % 97 = 0"))
        return pl.decontaminate(corpus, eval_df, n=4)

    return {
        "dedup_exact": lambda: dedup.dedup_exact(docs),
        "minhash_pairs": lambda: dedup.minhash_pairs(docs, threshold=0.5),
        "simhash_pairs": lambda: dedup.simhash_pairs(docs),
        "dup_clusters": _dup_clusters,
        "semantic_dup_pairs": lambda: dedup.semantic_dup_pairs(emb, threshold=0.4),
        "knn_bruteforce": lambda: similarity.knn_bruteforce(emb, queries, k=5),
        "knn_lsh": lambda: similarity.knn_lsh(emb, queries, k=5),
        "knn_ivf": lambda: similarity.knn_ivf(emb, queries, k=5),
        "asof_join": _asof,
        "range_join_binned": _range,
        "salted_agg": lambda: salted_agg(
            events, ["event_type"], {"value_cents": F.floor(F.col("value") * 100)}
        ),
        "quality": lambda: ta.quality(docs),
        "text_quality_lang": lambda: ta.quality(docs).join(ta.lang_id(docs), "doc_id"),
        "winnow_fingerprints": lambda: ta.winnow_fingerprints(docs),
        "decontaminate": _decontaminate,
        "event_window_stats": lambda: windowed_event_stats_frame(events),
        "sessionize": lambda: sessionize_frame(events),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--out-dir", help="write one <name>_<tag>.txt per plan here")
    ap.add_argument("--tag", default="plan", help="file-name suffix (--out-dir)")
    ap.add_argument("--only", metavar="REGEX", help="dump matching names only")
    args = ap.parse_args()
    if args.sf_dir is None:
        ap.error("give sf_dir or set SPARK_GRAFT_SF_DIR")
    name_re = re.compile(args.only) if args.only else None

    import __spark_entry__ as entry_mod
    from tabular_to_parquet_spark.session import get_spark

    spark = get_spark("dump-plans")
    catalog = entry_mod.queries()
    targets = operator_frames(spark, args.sf_dir)
    names = catalog if args.out_dir else AUDIT_QUERIES
    for name in names:
        targets.setdefault(
            name, lambda fn=catalog[name]: fn(spark, args.sf_dir)
        )
    if args.out_dir:
        os.makedirs(args.out_dir, exist_ok=True)

    for name, thunk in targets.items():
        if name_re is not None and not name_re.search(name):
            continue
        try:
            df = thunk()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building plan: {exc}"
        if args.out_dir:
            with open(os.path.join(args.out_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(plan)
            print(f"wrote {name}_{args.tag}.txt")
        else:
            print(f"\n{'=' * 72}\n== {name}\n{'=' * 72}\n{plan}")


if __name__ == "__main__":
    main()
