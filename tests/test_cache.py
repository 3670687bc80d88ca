"""The session cache (hdfs_with_pyspark_spark/cache.py): pins survive a
re-run of their query, memos follow their input files, and no other
module grows a cache of its own."""

from __future__ import annotations

import ast
import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hdfs_with_pyspark_spark import cache
from hdfs_with_pyspark_spark.llm import dedup as dd
from hdfs_with_pyspark_spark.llm import similarity as sim
from hdfs_with_pyspark_spark.llm.text import quality_psi_drift
from hdfs_with_pyspark_spark.plans.graph import channel_triangles
from hdfs_with_pyspark_spark.sources.io import events_ts_is_nanos, read_table


@pytest.mark.parametrize("query,slot", [
    (quality_psi_drift, "quality_psi_drift:cnt"),
    (channel_triangles, "channel_triangles"),
])
def test_pin_survives_rerun(spark, sf_dir, query, slot):
    # The second run releases the first run's frame. That frame has the
    # same plan as the new one, so releasing it after the new persist
    # would drop the cache entry both share.
    for _ in range(2):
        query(spark, sf_dir).collect()
    frame = cache._ENTRIES[(spark.sparkContext.applicationId, slot)]
    lvl = frame.storageLevel
    assert lvl.useMemory or lvl.useDisk


def _halve(path: Path) -> None:
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)


def _flip_ts_unit(path: Path) -> None:
    t = pq.read_table(path)
    i = t.schema.get_field_index("ts")
    unit = "us" if t.schema.field(i).type == pa.timestamp("ns") else "ns"
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp(unit)))
    pq.write_table(t, path)


def test_memos_follow_rewritten_inputs(spark, sf_dir, tmp_path):
    for name in ("documents", "embeddings", "events"):
        dst = tmp_path / f"{name}.parquet"
        shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), dst)
        os.chmod(dst, 0o644)
    sf = str(tmp_path)
    k = 4

    def values():
        return (dd._spine_token_rows(read_table(spark, sf, "documents")),
                sim.train_ivf_centroids(spark, sf, k=k),
                sim._corpus_count(spark, sf),
                events_ts_is_nanos(spark, str(tmp_path / "events.parquet")))

    before = values()
    assert values() == before               # filled: the second call hits
    _halve(tmp_path / "documents.parquet")
    _halve(tmp_path / "embeddings.parquet")
    _flip_ts_unit(tmp_path / "events.parquet")
    after = values()
    cache.reset()
    fresh = values()
    assert after == fresh
    # every memo recomputed: each value changed with its input
    assert all(a != b for a, b in zip(after, before))


def test_memo_bounded_under_threads(spark, tmp_path):
    # pipeline.DAG runs queries on threads that share the cache.
    n_threads, per_thread = 16, 2 * cache.MAX_ENTRIES
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def fill(t):
            for i in range(per_thread):
                key = ("stress", t, i // 2)   # each key asked for twice
                assert cache.memo(spark, key, str(tmp_path),
                                  lambda: key) == key
        with ThreadPoolExecutor(n_threads) as ex:
            for f in [ex.submit(fill, t) for t in range(n_threads)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert len(cache._ENTRIES) <= cache.MAX_ENTRIES
    cache.reset()


def _is_dict(value: ast.expr | None, annotation: ast.expr | None) -> bool:
    if isinstance(value, (ast.Dict, ast.DictComp)):
        return True
    if isinstance(value, ast.Call):
        f = value.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
        if name in ("dict", "OrderedDict", "defaultdict"):
            return True
    return annotation is not None and "dict" in ast.unparse(annotation).lower()


def test_no_hand_rolled_caches():
    # A module-level dict named like a cache or a result registry, or one
    # holding DataFrames, is a cache that bypasses the bound, the pin
    # order and the input-file keys.
    pkg = Path(cache.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == Path(cache.__file__):
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, ann = node.targets, None
            elif isinstance(node, ast.AnnAssign):
                targets, ann = [node.target], node.annotation
            else:
                continue
            for t in targets:
                if not (isinstance(t, ast.Name) and _is_dict(node.value, ann)):
                    continue
                holds_frames = ann is not None and "DataFrame" in ast.unparse(ann)
                if t.id.endswith(("_CACHE", "_RESULT")) or holds_frames:
                    offenders.append(f"{path.relative_to(pkg)}:{node.lineno} "
                                     f"{t.id}")
    assert not offenders, ("module-level caches outside cache.py: "
                           + ", ".join(offenders))
