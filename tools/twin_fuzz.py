"""Differential fuzz of the Arrow-batched catalog operators against their
DuckDB oracle SQL (s05/s08/s10 over embeddings, x07 over documents).

Each operator has one implementation (operators/similarity.py:
nearest_centroid_confusion, kmeans_fixed, gram_matrix;
operators/text_analysis.py: winnow_fingerprints) that claims BIT-EXACT
equality with the catalog oracle at any corpus size. The fixed test
tables gate that claim at one geometry; the failure modes live in the
corners they don't hit: odd dims, tiny corpora (fewer vectors than k),
duplicate/identical vectors (cluster collapse, argmin ties), empty
clusters, single-partition vs many-partition splits (the partial →
merge path), zero vectors, negative / large-magnitude coordinates, and
for winnowing: docs shorter than one window, mixed case and whitespace
runs, non-ASCII letters.

Each seed synthesizes a random corpus (sizes, dim, partition split,
label pattern, degenerate-vector mixture and text shapes all drawn from
the seed), runs each catalog query through the driver entry points
(extensions._emb / _docs are patched to serve the in-memory corpus — the
same query bodies the driver certifies) and its oracle SQL over the
same rows in DuckDB, and compares them with tools/check_parity.compare.

Usage: python tools/twin_fuzz.py [n_seeds] [seed0]
"""

from __future__ import annotations

import os
import random
import sys

import duckdb
import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EMB_QUERIES = [
    "s10_gram_matrix",
    "s05_nearest_centroid_confusion",
    "s08_kmeans_fixed",
]
DOC_QUERIES = ["x07_winnow_fingerprints"]

EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

_WORDS = ["alpha", "Beta", "GAMMA", "delta", "épée", "Straße", "naïve", "x", "42"]
_GAPS = [" ", " ", " ", "  ", "\t", "\n", " \t "]


def gen_embeddings(rng: random.Random) -> pa.Table:
    n = rng.randint(3, 90)
    dim = rng.choice([2, 3, 5, 8, 16, 31, 64])
    n_labels = rng.randint(1, 5)
    style = rng.random()

    vecs = []
    base_pool = [
        np.round(
            np.array([rng.uniform(-1.5, 1.5) for _ in range(dim)]),
            rng.choice([1, 3, 6]),
        )
        for _ in range(max(1, rng.randint(1, max(1, n // 4))))
    ]
    for _ in range(n):
        r = rng.random()
        if style < 0.2 and r < 0.6:
            # heavy-duplicate regime: clusters collapse, argmin ties
            v = base_pool[rng.randrange(len(base_pool))].copy()
        elif r < 0.08:
            v = np.zeros(dim)
        elif r < 0.12:
            # large magnitudes stress the fixed-point int64 headroom
            v = np.array([rng.uniform(-8.0, 8.0) for _ in range(dim)])
        else:
            v = np.array([rng.uniform(-1.0, 1.0) for _ in range(dim)])
        vecs.append(v.astype(np.float32))

    return pa.table(
        {
            "vec_id": list(range(n)),
            "embedding": [v.tolist() for v in vecs],
            "label": [rng.randrange(n_labels) for _ in range(n)],
        },
        schema=EMB_SCHEMA,
    )


def gen_documents(rng: random.Random) -> pa.Table:
    n = rng.randint(1, 30)
    shared = [rng.choice(_WORDS) for _ in range(rng.randint(3, 12))]
    texts = []
    for _ in range(n):
        words = [rng.choice(_WORDS) for _ in range(rng.randint(0, 40))]
        if rng.random() < 0.4:  # planted shared passage
            at = rng.randint(0, len(words))
            words[at:at] = shared
        gaps = [rng.choice(_GAPS) for _ in words]
        text = "".join(g + w for g, w in zip(gaps, words))
        texts.append(text + rng.choice(["", " ", "\n"]))
    return pa.table(
        {"doc_id": list(range(n)), "text": texts}, schema=DOC_SCHEMA
    )


def main() -> int:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    seed0 = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    n_threads = int(os.environ.get("TWIN_FUZZ_THREADS", "8"))

    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as entry_mod
    from tabular_to_parquet_spark.parity import extensions
    from tabular_to_parquet_spark.session import get_spark
    from tools.check_parity import compare

    spark = get_spark("twin-fuzz")
    # tiny corpora: big shuffle fan-out is pure overhead here
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()

    # seeds run concurrently (the per-seed jobs are tiny — scheduling
    # latency, not CPU, dominates), so the table hooks must be race-free:
    # patch them ONCE with a registry lookup keyed by the fake sf_dir.
    frames: dict[str, dict[str, object]] = {}
    extensions._emb = lambda _spark, sf_dir: frames[sf_dir]["embeddings"]
    extensions._docs = lambda _spark, sf_dir: frames[sf_dir]["documents"]

    failures: list[tuple[int, str, str]] = []
    done = [0]

    def run_seed(seed: int):
        key = f"<mem:{seed}>"
        rng = random.Random(seed)
        tables = {"embeddings": gen_embeddings(rng), "documents": gen_documents(rng)}
        parts = rng.randint(1, 8)
        con = duckdb.connect()
        frames[key] = {}
        for name, tbl in tables.items():
            con.register(name, tbl)
            df = spark.createDataFrame(tbl).repartition(parts)
            frames[key][name] = df.persist()
        try:
            for name in EMB_QUERIES + DOC_QUERIES:
                try:
                    sdf = queries[name](spark, key).toPandas()
                    ddf = con.sql(oracles[name]).df()
                except Exception as exc:  # noqa: BLE001
                    failures.append(
                        (seed, name, f"error: {str(exc).splitlines()[0][:160]}")
                    )
                    continue
                status = compare(sdf, ddf)
                if status:
                    failures.append((seed, name, "; ".join(status)))
        finally:
            for df in frames.pop(key).values():
                df.unpersist()
            con.close()
        done[0] += 1
        if done[0] % 100 == 0:
            print(
                f"[{done[0]}/{n_seeds}] ({len(failures)} failures)",
                flush=True,
            )

    with ThreadPoolExecutor(max_workers=n_threads) as pool:
        list(pool.map(run_seed, range(seed0, seed0 + n_seeds)))

    for seed, name, reason in failures:
        print(f"FAIL seed={seed} {name}: {reason}")
    print(
        f"{n_seeds - len(set(f[0] for f in failures))}/{n_seeds} seeds "
        "match their oracles"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
