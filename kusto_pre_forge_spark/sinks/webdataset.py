"""WebDataset tar-shard sink — the training-shard container convention
(webdataset.github.io; Aizman et al., "High Performance I/O For
Large-Scale Deep Learning"): samples are consecutive tar members sharing
a basename key (``<key>.txt`` here; sidecar ``<key>.json`` metadata
optional), bundled into size-capped ``shard-%06d.tar`` files a training
loader streams sequentially. This is the WRITE side of the archive front
door (``autoextract`` reads tar bundles, incl. member-streamed past
2 GiB) — forge→parse roundtrips pin the pair.

Spark-first shape: shard ASSIGNMENT is the deterministic bucketed prefix
sum every other sharder here uses (``plans/split.keyed_shard_assign`` —
replayable by an external engine, no whole-corpus window); the tar WRITE
is one ``applyInPandas`` per shard group, each task writing exactly its
own ``shard-%06d.tar``. Tar metadata is zeroed (mtime/uid/gid), so a
re-run writes BYTE-IDENTICAL shards — the idempotent-retry property the
manifest sink's protocol expects of its writers.

At 100 TB: the BYTE cap (default) bounds every shard — and therefore
every write task's unit of work — regardless of document size, and the
tar is written THROUGH the ``.inprogress`` file handle one member at a
time, so task memory is bounded by the single largest document, never
the shard. Shard count scales the write's parallelism; nothing collects.
"""

from __future__ import annotations

import io
import os
import tarfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WDS_MANIFEST_DDL = "shard_id long, path string, n_members long, n_bytes long"


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_members_per_shard: int | None = None,
    salt: str = "kpf",
    num_buckets: int = 64,
    meta_cols: tuple = (),
    max_bytes_per_shard: int | None = None,
) -> DataFrame:
    """Write (id, text) rows as WebDataset tar shards under ``out_dir``;
    returns the shard manifest (shard_id, path, n_members, n_bytes) —
    an ACTION result (the write happens when the manifest materializes).

    Members are ``<id>.txt`` with UTF-8 text bytes, laid out in the
    deterministic ``corpus_shuffle`` (hash, id) order that
    ``sequence_pack`` uses, so shard contents are replayable: shard k
    holds a contiguous slice of the global order. ``meta_cols`` adds the
    convention's sidecar: a ``<id>.json`` member immediately after each
    sample's ``.txt``, holding those columns as a sorted-key JSON
    object (sort_keys + zeroed tar metadata keep re-runs
    byte-identical).

    Capping: the DEFAULT cap is BYTES (64 MiB of text payload per
    shard) — documents are the one place members are big, so a count
    cap alone could put gigabytes in one shard/task. Pass
    ``max_members_per_shard`` for the count-capped layout (the
    loader-friendly fixed-samples-per-shard convention), or BOTH to
    enforce both at once (each record charges at least
    ``ceil(byte_cap / member_cap)`` bytes, so a shard can exceed
    neither cap — still a pure-codegen, replayable charge)."""
    from kusto_pre_forge_spark.operators.corpus import _hash_unit
    from kusto_pre_forge_spark.plans.split import keyed_shard_assign

    os.makedirs(out_dir, exist_ok=True)
    h = _hash_unit(F.col(id_col).cast("string"), salt)
    t = df.select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_text"),
        h.alias("_kpf_h"),
        *[F.col(c) for c in meta_cols],
    )
    if max_members_per_shard is None and max_bytes_per_shard is None:
        max_bytes_per_shard = 64 * 1024 * 1024
    if max_bytes_per_shard is None:
        # pure count cap: each record charges 1 "byte"
        rec = F.lit(1).cast("long")
        cap = int(max_members_per_shard)
    else:
        rec = F.octet_length(F.col("_text")).cast("long")
        if max_members_per_shard is not None:
            floor_charge = -(-int(max_bytes_per_shard) // int(
                max_members_per_shard
            ))
            rec = F.greatest(rec, F.lit(floor_charge).cast("long"))
        cap = int(max_bytes_per_shard)
    assigned = keyed_shard_assign(
        t,
        order_cols=["_kpf_h", id_col],
        bucket=F.floor(F.col("_kpf_h") * F.lit(float(num_buckets))).cast(
            "long"
        ),
        rec_bytes=rec,
        max_bytes_per_shard=cap,
        shard_col="_shard",
        start_col="_pos",
    )

    def write_shard(pdf):
        import json

        import pandas as pd

        pdf = pdf.sort_values("_pos")
        shard = int(pdf["_shard"].iloc[0])
        # executor-side too: on a multi-node cluster the driver's
        # makedirs touched a different machine (out_dir must be shared
        # storage — the blob.worker_local_path worker-fs contract)
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"shard-{shard:06d}.tar")
        tmp = path + ".inprogress"
        # stream members THROUGH the .inprogress handle — task memory
        # is bounded by the largest single document, never the shard
        with open(tmp, "wb") as fh:
            with tarfile.open(fileobj=fh, mode="w") as tf:

                def add(name: str, data: bytes) -> None:
                    ti = tarfile.TarInfo(name)
                    ti.size = len(data)
                    ti.mtime = 0  # zeroed metadata → byte-identical re-runs
                    tf.addfile(ti, io.BytesIO(data))

                for _, row in pdf.iterrows():
                    i = row[id_col]
                    add(f"{i}.txt", str(row["_text"]).encode("utf-8"))
                    if meta_cols:
                        meta = {c: row[c] for c in meta_cols}
                        add(
                            f"{i}.json",
                            json.dumps(
                                {
                                    k: (
                                        v.item()
                                        if hasattr(v, "item")
                                        else v
                                    )
                                    for k, v in meta.items()
                                },
                                sort_keys=True,
                            ).encode("utf-8"),
                        )
        n_bytes = os.path.getsize(tmp)
        os.replace(tmp, path)  # atomic publish — readers never see a torn shard
        return pd.DataFrame(
            [
                {
                    "shard_id": shard,
                    "path": path,
                    "n_members": len(pdf),
                    "n_bytes": n_bytes,
                }
            ]
        )

    return assigned.groupBy("_shard").applyInPandas(
        write_shard, WDS_MANIFEST_DDL
    )
