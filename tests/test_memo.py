"""The per-corpus artifact memo (``catalog.memo``): artifacts are keyed by
the fingerprint of the files they were built from, so a table created
or rewritten in place under the same ``sf_dir`` is never served stale.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import dirhash_spark
from dirhash_spark.catalog import (
    Catalog,
    load_table,
    parquet_split_count,
    parquet_table_bytes,
    table_rowcount,
)


def _write_corpus(sf: str, n: int) -> None:
    """``n`` documents and ``n`` 64-dim embeddings (seeded by ``n``)."""
    pq.write_table(
        pa.table({"doc_id": np.arange(n), "text": [f"doc {i}" for i in range(n)]}),
        os.path.join(sf, "documents.parquet"),
    )
    v = np.random.RandomState(n).standard_normal((n, 64)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n),
                "embedding": pa.array(list(v), pa.list_(pa.float32())),
                "label": np.zeros(n, np.int32),
            }
        ),
        os.path.join(sf, "embeddings.parquet"),
    )


def test_size_signals_never_cache_a_miss(tmp_path):
    """A table absent at the first call and created afterwards in the
    same process is seen by the next call."""
    sf = str(tmp_path)
    assert parquet_table_bytes(sf, "documents") is None
    assert parquet_split_count(sf, "documents") is None
    _write_corpus(sf, 10)
    assert parquet_table_bytes(sf, "documents") == os.path.getsize(
        tmp_path / "documents.parquet"
    )
    assert parquet_split_count(sf, "documents") == 1


def test_rewrite_in_place_serves_fresh_artifacts(spark, tmp_path):
    """After ``documents`` and ``embeddings`` are rewritten with another
    row count, row counts, IVF K, centroids, byte sizes, plan rows and
    the ANN index path are all fresh."""
    from dirhash_spark.operators import similarity as S

    sf, cat = str(tmp_path), Catalog(spark, str(tmp_path))

    def snapshot():
        return (
            table_rowcount(spark, sf, "documents"),
            table_rowcount(spark, sf, "embeddings"),
            S._corpus_ivf_k(cat),
            len(S._train_centroids(cat)),
            load_table(spark, sf, "documents").count(),
            parquet_table_bytes(sf, "documents"),
            S._ann_index_path(sf),
        )

    _write_corpus(sf, 300)
    old = snapshot()
    _write_corpus(sf, 1500)
    new = snapshot()
    assert old[:5] == (300, 300, 4, 4, 300)
    assert new[:5] == (1500, 1500, 12, 12, 1500)
    assert new[5] == os.path.getsize(tmp_path / "documents.parquet") != old[5]
    assert new[6] != old[6]
    # a repeat call is a memo hit: the very same trained array
    assert S._train_centroids(cat) is S._train_centroids(cat)


def test_no_module_level_cache_dicts():
    """Guard for the path-keyed-cache bug class: per-corpus artifacts go
    through ``catalog._MEMO``; no module may bind its own module-level
    ``*_CACHE``, which would be keyed by path alone."""
    root = Path(dirhash_spark.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{node.lineno} {name.id}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for target in getattr(node, "targets", [getattr(node, "target", None)])
        for name in ast.walk(target)
        if isinstance(name, ast.Name) and name.id.endswith("_CACHE")
    ]
    assert not offenders, offenders
