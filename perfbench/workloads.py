"""Benchmark workloads and their seeded input generator.

Each workload names the registered queries it runs and the tables it
needs, in the testdata schemas (``hdfs_with_pyspark_spark.schemas``).
Inputs are generated from ``--seed`` with the parameters stated here, so
the same seed gives byte-identical tables and the program under test
receives only the generated files.

Run as a script, this module writes one workload's tables plus a
``manifest.json`` (row counts, parameters, seed) into ``--out``:

    python3 perfbench/workloads.py --workload geo_marts --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass, field

# Bump when a generator's output changes, so cached oracle digests of
# older inputs are never reused.
GENERATOR_VERSION = 1


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: tuple[str, ...]
    params: dict = field(default_factory=dict)
    # True: the queries run as pipeline.DAG tasks and each result goes
    # through sources.io.write_parquet; False: each result is collected.
    sink: bool = False


# Sizes are small because these queries pay mostly per Spark stage, not
# per row, and a run (session start, one cold and one warm pass, oracle
# check) must fit the benchmark's per-run time budget. On a 4-vCPU VM a
# geo_marts warm pass is about 4.1 s of fixed cost plus 2.3 s per 100k
# events (4.8 s at 30k, 8.1 s at 180k); 30k is the largest size at which
# both gated workloads' runs fit that budget.
WORKLOADS: dict[str, Workload] = {
    # The reference's nightly job: row-bound argmin, window, pivot and
    # pair work, run as DAG tasks; the only write path. Builds are lazy.
    "geo_marts": Workload(
        queries=("geo_city_event_counts", "user_mart", "zone_mart",
                 "friend_recommendations"),
        tables=("events", "nation"),
        params={"events": 30_000, "events_per_user": 67, "channels": 100,
                "start": "2024-01-01", "days": 30},
        sink=True),
    # Training-data dedup: the constructors' eager jobs (connected
    # components, run once per composer) dominate. Chains stay short and
    # documents long enough that every chain is one near-dup clique, so
    # the component rounds do not change from seed to seed.
    # embedding_label_centroids is a pandas kernel of llm.similarity
    # (applyInPandas): it puts this workload across the Python-worker
    # boundary, which geo_marts never crosses.
    "dedup_curation": Workload(
        queries=("dedup_minhash_lsh", "dedup_components", "leakage_safe_splits",
                 "dedup_canonical_docs", "corpus_curation",
                 "embedding_label_centroids"),
        tables=("documents", "embeddings"),
        params={"documents": 250, "near_dup_rate": 0.08, "chain_depth": 2,
                "min_words": 30, "max_words": 100,
                "vectors": 1_000, "dim": 64, "clusters": 10, "spread": 3.0}),
    # ANN search: k-means/PQ training on the driver, GEMM kernels
    # (mapInPandas) in the Python workers, and the centroid memo that
    # makes cold slow. Not in BENCHMARK.json: its cold pass alone takes
    # about a minute, and a run about 90 s.
    "vector_search": Workload(
        queries=("ann_topk_ivfpq_refine", "ann_ivfpq_refine_recall_eval",
                 "ann_topk_lsh_multiprobe", "dedup_embedding_lsh"),
        tables=("embeddings",),
        params={"vectors": 1_000, "dim": 64, "clusters": 10, "spread": 3.0}),
}

# The testdata vocabulary; "dup" marks a near-duplicate's edit.
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = (("en", 0.4), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.15))
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SOURCES = 20


def scaled(params: dict, scale: float) -> dict:
    """Row-count parameters multiplied by ``scale`` (at least 20 rows)."""
    out = dict(params)
    for key in ("events", "documents", "vectors"):
        if key in out:
            out[key] = max(20, int(round(out[key] * scale)))
    return out


def gen_nation():
    """The fixed 25-row nation dimension of the testdata."""
    import pyarrow as pa
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def gen_events(rng, p: dict):
    """Events spread uniformly over ``days`` from ``start``, sorted by ts,
    with ``events_per_user`` events per user on average and a
    ``{"k": channel}`` JSON prop."""
    import numpy as np
    import pyarrow as pa
    n = p["events"]
    users = max(1, round(n / p["events_per_user"]))
    t0 = np.datetime64(p["start"], "us").astype(np.int64)
    span = p["days"] * 86_400_000_000
    ts = np.sort(t0 + rng.integers(0, span, n))
    channel = rng.integers(0, p["channels"], n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in channel]),
    })


def gen_documents(rng, p: dict):
    """Random-word documents; ``near_dup_rate`` of them are near-duplicates
    in chains of ``chain_depth``: each link is the previous text plus
    " dup". Doc ids are shuffled so a chain is not a run of ids."""
    import numpy as np
    import pyarrow as pa
    n = p["documents"]
    chains = int(n * p["near_dup_rate"]) // p["chain_depth"]
    n_base = n - chains * p["chain_depth"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(p["min_words"],
                                                     p["max_words"] + 1)))
             for _ in range(n_base)]
    for base in rng.choice(n_base, chains, replace=False):
        text = texts[base]
        for _ in range(p["chain_depth"]):
            text += " dup"
            texts.append(text)
    ids = rng.permutation(n).astype(np.int64)
    order = np.argsort(ids)
    texts = [texts[i] for i in order]
    langs, weights = zip(*LANGS)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(langs)[rng.choice(len(langs), n, p=weights)]),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_embeddings(rng, p: dict):
    """Unit vectors around ``clusters`` random unit centres; the noise
    norm is about ``spread`` times the centre's, and ``label`` is the
    centre."""
    import numpy as np
    import pyarrow as pa
    n, dim = p["vectors"], p["dim"]
    centres = rng.normal(size=(p["clusters"], dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, p["clusters"], n)
    v = centres[label] + rng.normal(size=(n, dim)) * (p["spread"] / dim ** 0.5)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


GENERATORS = {"events": gen_events, "documents": gen_documents,
              "embeddings": gen_embeddings}


def generate(workload: str, seed: int, out_dir: str,
             scale: float = 1.0) -> dict:
    """Write the workload's tables as ``<out_dir>/<table>.parquet`` and
    return the manifest (also written to ``manifest.json``)."""
    import numpy as np
    import pyarrow.parquet as pq
    spec = WORKLOADS[workload]
    params = scaled(spec.params, scale)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, table in enumerate(spec.tables):
        if table == "nation":
            data = gen_nation()
        else:
            # one independent stream per table, all derived from the seed
            data = GENERATORS[table](np.random.default_rng([seed, i]), params)
        pq.write_table(data, os.path.join(out_dir, f"{table}.parquet"))
        rows[table] = data.num_rows
    manifest = {"workload": workload, "seed": seed, "scale": scale,
                "generator_version": GENERATOR_VERSION, "params": params,
                "rows": rows}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out, args.scale)


if __name__ == "__main__":
    main()
