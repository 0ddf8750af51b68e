"""Compression-ratio quality signal (zlib bytes-out / bytes-in).

LLM-pipeline mandate: deflate ratio is a standard corpus-quality screen
(used alongside repetition/Gopher rules in public pipelines — highly
repetitive or templated text compresses far below prose; random bytes
don't compress at all). zlib is byte-exact and deterministic at a fixed
level across platforms, but no SQL engine exposes it, so this is a
legitimate escape-hatch operator: Arrow-batched `mapInPandas`, zlib's C
core doing the work per row, no driver involvement, output one scalar
row per document. Rows-only in the registry (no DuckDB twin exists —
by the same argument as the sketch operators); behavior is pinned by a
property test: repeated text < prose < incompressible hex
(tests/test_text_quality.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hw_kafka_flink_health_spark.pyship import ship_package

COMPRESS_LEVEL = 6


def compression_ratio(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bytes, n_zlib_bytes, zlib_ratio) per document; ratio =
    compressed/raw in [~0, ~1.01] (tiny inputs can exceed 1 from header
    overhead). Level pinned so results are stable across runs/machines."""
    import pandas as pd
    import zlib

    ship_package(docs.sparkSession)
    schema = "doc_id long, n_bytes long, n_zlib_bytes long, zlib_ratio double"

    def op(batches):
        for pdf in batches:
            raw = [str(t).encode("utf-8") for t in pdf["text"]]
            nb = [len(b) for b in raw]
            nz = [len(zlib.compress(b, COMPRESS_LEVEL)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64").to_numpy(),
                    "n_bytes": nb,
                    "n_zlib_bytes": nz,
                    "zlib_ratio": [
                        round(z / b, 6) if b else 0.0 for z, b in zip(nz, nb)
                    ],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(op, schema=schema)
