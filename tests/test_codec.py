"""Every parquet file sif_spark writes is zstd (``session.PARQUET_CODEC``).

One test writes through each writer path — a checkpointed pipeline,
SifTable create/append/upsert/merge on a cdf table, a dv delete,
compact, a bucketed table, the ANN maintainer's index table, a saved
IVF index, ``daily_ingest``, ``layout`` compaction and a
``df.write.format("sif_table")`` append — and reads every ``.parquet``
footer under each: every column chunk must report ZSTD. Spark's
session conf reaches all of them but the ``sif_table`` data-source
writer, which writes with pyarrow from a sessionless worker."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sif_spark.table import SifTable


def _codecs(root: str) -> tuple[set[str], int]:
    """(codecs of every column chunk under ``root``, chunk count)."""
    codecs: set[str] = set()
    chunks = 0
    for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                codecs.add(md.row_group(g).column(c).compression)
                chunks += 1
    return codecs, chunks


def _vecs(spark, lo, hi, dim=8):
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[F.cos(F.col("id") * (i + 1)).cast("float") for i in range(dim)]
        ).alias("embedding"),
    )


def _docs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[(F.col("id") * (i + 3) % 97).cast("string") for i in range(12)]
        ).alias("text"),
        (F.col("id") % 2).cast("string").alias("source"),
    )


def test_every_writer_path_writes_zstd(spark, tdir):
    from sif_spark.operators import similarity as sim
    from sif_spark.operators.layout import compact_parquet
    from sif_spark.pipeline import CorpusPipeline, daily_ingest
    from sif_spark.sources.table_stream import register_table_source

    roots = {}

    def root(name):
        roots[name] = os.path.join(tdir, name)
        return roots[name]

    docs = _docs(spark, 0, 60)
    CorpusPipeline().quality_filter(0.0).exact_dedup().mixture(
        {"0": 1, "1": 1}
    ).run(docs, checkpoint_dir=root("pipeline"))

    kv = spark.range(0, 40).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    t = SifTable.create(spark, root("cdf"), kv, key_col="k", cdf=True)
    t.append(kv.withColumn("k", F.col("k") + 40))
    t.upsert(kv.filter("k < 10").withColumn("v", F.lit("b")))
    t.merge(
        kv.filter("k >= 30").withColumn("v", F.lit("c")),
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=True,
    )

    d = SifTable.create(spark, root("dv"), kv, key_col="k", dv=True)
    d.delete("k % 7 = 3")
    d.compact()

    b = SifTable.create(
        spark, root("bucketed"), kv, key_col="k", bucket_by="k", n_buckets=2
    )
    b.append(kv.withColumn("k", F.col("k") + 40))

    src = SifTable.create(spark, root("ann_src"), _vecs(spark, 0, 60), key_col="vec_id")
    index = sim.build_ivf_index(src.read(), n_cells=3, max_iter=2)
    sim.save_ivf_index(index, root("ivf_saved"))
    q = sim.maintain_ivf_index_table(
        spark, root("ann_src"), root("ann_idx"), index.centroids,
        f"{tdir}-ann-ck", app_id="codec",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    daily_ingest(docs, root("daily"), "day1", hash_fn="md5")

    docs.write.parquet(f"{tdir}-layout-src")
    compact_parquet(spark, f"{tdir}-layout-src", root("layout"))

    register_table_source(spark)
    kv.write.format("sif_table").option("path", root("ds")).option(
        "key_col", "k"
    ).mode("append").save()
    kv.withColumn("k", F.col("k") + 40).write.format("sif_table").option(
        "path", root("ds")
    ).mode("append").save()
    ds_files = glob.glob(os.path.join(root("ds"), "data", "**", "*.parquet"), recursive=True)
    assert ds_files  # the data-source writer's group reached data/

    for name, r in roots.items():
        codecs, chunks = _codecs(r)
        assert chunks > 0, f"{name}: no parquet column chunk written"
        assert codecs == {"ZSTD"}, f"{name}: {codecs}"
