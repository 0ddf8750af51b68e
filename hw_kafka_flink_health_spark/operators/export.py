"""Training-data interchange export: WebDataset-style tar shards.

LLM-pipeline mandate: multimodal training stacks (webdataset / torchdata)
consume tar archives whose members are `{key}.txt` / `{key}.json` /
`{key}.bin` groups, read SEQUENTIALLY — the format exists precisely so a
trainer streams a shard with zero seeks. This operator materializes the
corpus as those shards straight from executors:

* shard + order come from the same portable md5-draw permutation the
  parquet shard export uses (`mlprep.write_shuffled_shards`), so the
  sample order inside each tar IS the deterministic global shuffle
  restricted to the shard — reproducible across runs and engines;
* one shuffle total (`repartition(shard)` + `sortWithinPartitions`),
  then each task streams its shard(s) to tar files with NO further sort;
* tar bytes are canonical: member mtime/uid/gid pinned to 0, so two
  exports of the same data are BYTE-IDENTICAL (pinned by test) — the
  property that makes shard-level caching / content-addressing work.

Local paths here (the test posture); at cluster scale the same code
writes to a fused mount or is pointed at object storage via a
per-partition upload — the tar-building path is identical.
"""

from __future__ import annotations

import io
import json
import os
import tarfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.mlprep import hash_unit
from hw_kafka_flink_health_spark.pyship import ship_package


def _add_member(tar: tarfile.TarFile, name: str, payload: bytes) -> None:
    info = tarfile.TarInfo(name=name)
    info.size = len(payload)
    info.mtime = 0  # canonical bytes: no wall-clock in the archive
    info.uid = info.gid = 0
    info.uname = info.gname = ""
    tar.addfile(info, io.BytesIO(payload))


def write_webdataset_shards(
    df: DataFrame,
    out_dir: str,
    *,
    meta_cols: tuple[str, ...] = (),
    n_shards: int = 4,
) -> None:
    """Write `shard-{N:05d}.tar` files under out_dir: each sample is a
    `{pos:08d}.txt` member (utf-8 text) followed by `{pos:08d}.json`
    (id + meta columns), in deterministic permutation order. A task may
    own several shards (hash placement of shard ids over tasks); rows
    arrive sorted by (shard, draw, id), so shards are emitted streaming
    with a plain group-change check — no buffering beyond one tar."""
    ship_package(df.sparkSession)
    os.makedirs(out_dir, exist_ok=True)

    cols = ["doc_id", "text", *meta_cols]
    draw = hash_unit("doc_id", "wds")
    out = (
        df.select(*cols)
        .withColumn("__draw", draw)
        .withColumn(
            "__shard",
            F.least(F.floor(F.col("__draw") * n_shards), F.lit(n_shards - 1)).cast(
                "bigint"
            ),
        )
        .repartition(n_shards, F.col("__shard"))
        .sortWithinPartitions("__shard", "__draw", "doc_id")
    )

    def write_partition(rows) -> None:
        tar = None
        shard = None
        pos = 0

        def close() -> None:
            if tar is not None:
                tar.close()

        for row in rows:
            if row["__shard"] != shard:
                close()
                shard = row["__shard"]
                pos = 0
                tar = tarfile.open(
                    os.path.join(out_dir, f"shard-{shard:05d}.tar"), "w"
                )
            key = f"{pos:08d}"
            _add_member(tar, f"{key}.txt", str(row["text"]).encode("utf-8"))
            meta = {"doc_id": row["doc_id"], **{c: row[c] for c in meta_cols}}
            _add_member(
                tar,
                f"{key}.json",
                json.dumps(meta, sort_keys=True, separators=(",", ":")).encode(),
            )
            pos += 1
        close()

    out.rdd.foreachPartition(write_partition)


def read_webdataset_shards(spark, in_dir: str):
    """Re-ingest WebDataset shards as a DataFrame (shard, pos, key,
    text, meta_json): `binaryFile` scans the tars (one file per task —
    tars are sequential by design, so per-file parallelism is the right
    grain), and an Arrow-batched mapInPandas untars each archive and
    pairs the .txt/.json members. The round trip
    write_webdataset_shards -> read_webdataset_shards is exact (pinned
    by test), which makes the tar tier a real interchange point rather
    than a write-only export."""
    import io as _io
    import tarfile as _tarfile

    import pandas as pd

    ship_package(spark)
    files = spark.read.format("binaryFile").load(f"{in_dir}/shard-*.tar")

    schema = "shard long, pos long, key string, text string, meta_json string"

    def untar(batches):
        for pdf in batches:
            out = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                shard = int(path.rsplit("shard-", 1)[1].split(".")[0])
                with _tarfile.open(fileobj=_io.BytesIO(bytes(blob))) as tf:
                    members = {}
                    for m in tf.getmembers():
                        key, ext = m.name.rsplit(".", 1)
                        members.setdefault(key, {})[ext] = tf.extractfile(m).read()
                    for pos, key in enumerate(sorted(members)):
                        pair = members[key]
                        out.append(
                            (
                                shard,
                                pos,
                                key,
                                pair.get("txt", b"").decode("utf-8"),
                                pair.get("json", b"{}").decode("utf-8"),
                            )
                        )
            yield pd.DataFrame(
                out, columns=["shard", "pos", "key", "text", "meta_json"]
            )

    return files.select("path", "content").mapInPandas(untar, schema=schema)
