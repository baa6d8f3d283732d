"""Bucketed zero-shuffle nightly ingest (round 9, VERDICT r8 ask #5):
the q46 bucketed-join proof applied to the q83/q85/q119 store path —
fingerprint and band stores written bucketed, the nightly anti-join
and band-join plan-pinned to ZERO Exchange on the store side, and the
bucketed mode's output pinned equal to the plain store's."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.heavy
from pyspark.sql import functions as F

from sif_spark.pipeline import _bucketed_store_frame, daily_ingest
from sif_spark.sources.parquet import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def days(spark):
    d = read_table(spark, SF, "documents")
    bench = d.filter(F.col("doc_id") % 20 == 19)
    not_bench = F.col("doc_id") % 20 != 19
    day1 = d.filter((F.col("doc_id") < 250) & not_bench)
    day2 = d.filter((F.col("doc_id") >= 250) & not_bench)
    return day1, day2, bench


def _rows(df):
    return sorted((r["doc_id"], r["lang"]) for r in df.select("doc_id", "lang").collect())


def test_bucketed_store_matches_plain_and_plans_zero_store_exchange(
    spark, days, tdir
):
    day1, day2, bench = days

    # plain-mode reference
    daily_ingest(day1, f"{tdir}/plain", "day1", benchmark=bench, hash_fn="md5")
    ref = daily_ingest(day2, f"{tdir}/plain", "day2", benchmark=bench, hash_fn="md5")

    # bucketed mode: same params + store_buckets
    daily_ingest(
        day1, f"{tdir}/bkt", "day1", benchmark=bench, hash_fn="md5", store_buckets=8
    )
    got = daily_ingest(
        day2, f"{tdir}/bkt", "day2", benchmark=bench, hash_fn="md5", store_buckets=8
    )
    assert _rows(got) == _rows(ref)

    # --- plan pins on the nightly joins against the day-1 store -----
    from sif_spark.operators.dedup import (
        exact_dedup_incremental,
        sig_band_keys,
    )
    from sif_spark.plans import plan_string

    import glob
    import re

    (epoch1,) = [
        p
        for p in glob.glob(f"{tdir}/bkt/epoch_*")
        if glob.glob(f"{p}/bands/_SUCCESS")
        and _rows_exist(spark, f"{p}/fingerprints")
    ][:1] or [None]
    assert epoch1, "no committed bucketed epoch found"

    fps = _bucketed_store_frame(
        spark, f"{epoch1}/fingerprints", "fingerprint STRING", "fingerprint", 8
    )
    anti = exact_dedup_incremental(day2, [fps])
    text = plan_string(anti, "formatted")
    # the ONLY hash-partitioning exchanges may be on the batch side:
    # no Exchange may sit between the bucketed store scan and its join
    assert "SelectedBucketsCount" in text or "Bucketed: true" in text, text[:2000]
    store_scan_bucketed = _scan_is_bucketed(text, "fingerprints")
    assert store_scan_bucketed, text[:3000]

    from sif_spark.operators.dedup import minhash_signatures

    bands = _bucketed_store_frame(
        spark, f"{epoch1}/bands", "doc_id BIGINT, band_key BIGINT", "band_key", 8
    )
    bkeys = sig_band_keys(
        minhash_signatures(day2, "text", "doc_id", 32, 3, "md5"), "doc_id", 8, 4
    )
    band_join = bkeys.join(bands, "band_key")
    # Default plan: the small nightly batch BROADCASTS onto the store
    # scan — the store never moves (no Exchange above its scan).
    btext = plan_string(band_join, "simple")
    assert "BroadcastHashJoin" in btext or _scan_is_bucketed(btext, "bands"), (
        btext[:3000]
    )
    store_block = btext[btext.find("Scan") :]
    # With broadcast disabled (the batch-too-big regime, where the
    # bucketing is the whole win): SMJ with the store side reading its
    # buckets directly — the ONLY hash-partitioning Exchange is the
    # batch side's, pinned by counting.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        smj_text = plan_string(bkeys.join(bands, "band_key"), "simple")
        # same join against a PLAIN read of the same store files: the
        # only plan difference must be the store-side Exchange
        plain_bands = spark.read.parquet(f"{epoch1}/bands")
        plain_text = plan_string(bkeys.join(plain_bands, "band_key"), "simple")
        anti_smj = plan_string(exact_dedup_incremental(day2, [fps]), "simple")
        plain_fps = spark.read.parquet(f"{epoch1}/fingerprints")
        anti_plain = plan_string(exact_dedup_incremental(day2, [plain_fps]), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    n_ex = "Exchange hashpartitioning"
    assert "Bucketed: true" in smj_text, smj_text[:3000]
    assert smj_text.count(n_ex) == plain_text.count(n_ex) - 1, (
        smj_text[:1500],
        plain_text[:1500],
    )
    assert "Bucketed: true" in anti_smj, anti_smj[:3000]
    # the anti-joined frame appears TWICE downstream (the within-batch
    # keep-min self-join), so the plain store pays its Exchange twice;
    # bucketed pays zero — strictly fewer either way
    assert anti_smj.count(n_ex) == anti_plain.count(n_ex) - 2, (
        anti_smj.count(n_ex),
        anti_plain.count(n_ex),
    )


def _rows_exist(spark, path: str) -> bool:
    try:
        return spark.read.parquet(path).limit(1).count() >= 0
    except Exception:
        return False


def _scan_is_bucketed(plan_text: str, path_fragment: str) -> bool:
    """True iff the FileScan over ``path_fragment`` reports a selected
    bucket count (the marker that the scan carries bucket metadata —
    no Exchange is planned above a bucketed scan joined on its key)."""
    import re

    for block in plan_text.split("\n\n"):
        if path_fragment in block and "Scan parquet" in block:
            if "SelectedBucketsCount" in block or "Bucketed: true" in block:
                return True
    # formatted plans list scan details in numbered sections; fall back
    # to a whole-text check pairing the fragment with bucket evidence
    return (
        path_fragment in plan_text
        and ("SelectedBucketsCount" in plan_text or "Bucketed: true" in plan_text)
    )


def test_string_id_store_and_layout_compat_gates(spark, days, tdir):
    """ADVICE r9: the bands-store DDL must derive from the REAL id
    type (string/UUID doc ids broke the fresh-session re-declare when
    it was hardcoded BIGINT), and store_buckets / id_type drift across
    calls must fail loudly — bucket assignments are facts of the
    written files, not of a later caller."""
    day1, day2, bench = days

    def sid(df):
        return df.withColumn("sid", F.format_string("doc-%06d", "doc_id"))

    s1, s2, sb = sid(day1), sid(day2), sid(bench)

    # plain-mode reference with the same string ids
    daily_ingest(s1, f"{tdir}/plain_sid", "day1", benchmark=sb,
                 hash_fn="md5", id_col="sid")
    ref = daily_ingest(s2, f"{tdir}/plain_sid", "day2", benchmark=sb,
                       hash_fn="md5", id_col="sid")

    daily_ingest(s1, f"{tdir}/sid", "day1", benchmark=sb,
                 hash_fn="md5", id_col="sid", store_buckets=4)
    # simulate a fresh session: drop the session-catalog entries so
    # day-2 re-declares the external bucketed tables purely from the
    # files + the epoch's recorded sig_params (id_type, store_buckets)
    for t in spark.catalog.listTables():
        if t.name.startswith("sif_store_"):
            spark.sql(f"DROP TABLE {t.name}")
    got = daily_ingest(s2, f"{tdir}/sid", "day2", benchmark=sb,
                       hash_fn="md5", id_col="sid", store_buckets=4)
    assert _rows(got) == _rows(ref)

    # bucket-count drift: the zero-shuffle joins would assign rows to
    # different buckets than the files carry — must raise, not misplan
    with pytest.raises(ValueError, match="store_buckets"):
        daily_ingest(s2, f"{tdir}/sid", "day3", benchmark=sb,
                     hash_fn="md5", id_col="sid", store_buckets=16)

    # id-type drift: same column name, different type — must raise
    bigint_sid = day2.withColumn("sid", F.col("doc_id"))
    with pytest.raises(ValueError, match="id type|miscast"):
        daily_ingest(bigint_sid, f"{tdir}/sid", "day3", benchmark=bench,
                     hash_fn="md5", id_col="sid", store_buckets=4)
