"""Declarative corpus-cleaning pipeline: the composed flow a
training-data team runs nightly (quality → language → dedup tiers →
mixture), assembled from the oracle-gated operators as ONE ordered,
inspectable object instead of hand-wired query code.

Design: each stage is a named DataFrame→DataFrame transform over a
stable (id, text, ...) schema; ``run`` folds them in order, inserting
the same materialization points the hand-tuned composition (q69/q71)
uses — the deduped corpus is localCheckpointed once before the
near-dup stage so the shingle pass and the survivor anti-join never
re-tokenize (VERDICT r4 "Next round" #1 lesson, applied by
construction here). Composing stages adds no shuffles beyond the
stages' own.

Reference parity: sif composes per-row ops via ``.To(ops...)``
(internal/dataframe/frame.go) but has no corpus-level stages to
compose; this is the Spark-native pipeline surface the north star
adds on top of operator parity.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

from sif_spark.logstore import store_for


class Stage:
    """A named pipeline step. ``fn`` must preserve the pipeline's
    (id_col, text_col) columns; extra columns pass through."""

    def __init__(self, name: str, fn: Callable[[DataFrame], DataFrame]):
        self.name = name
        self.fn = fn

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"Stage({self.name})"


class CorpusPipeline:
    """Fluent builder over the cleaning operators. Stages run in the
    order added; ``describe()`` lists them (the auditable config that
    would live in a job's YAML)."""

    def __init__(self, text_col: str = "text", id_col: str = "doc_id"):
        self.text_col = text_col
        self.id_col = id_col
        self.stages: list[Stage] = []

    # -- filters ---------------------------------------------------------
    def quality_filter(self, min_score: float = 0.5) -> "CorpusPipeline":
        from sif_spark.operators.text import quality_score

        self.stages.append(
            Stage(
                f"quality_filter(min_score={min_score})",
                lambda df: df.filter(quality_score(self.text_col) >= min_score),
            )
        )
        return self

    def language_filter(
        self,
        exclude: tuple[str, ...] = ("und",),
        include: tuple[str, ...] | None = None,
    ) -> "CorpusPipeline":
        from sif_spark.operators.text import language_id

        def fn(df: DataFrame) -> DataFrame:
            lid = language_id(self.text_col)
            if include is not None:
                return df.filter(lid.isin(*include))
            cond = None
            for lang in exclude:
                c = lid != lang
                cond = c if cond is None else (cond & c)
            return df.filter(cond) if cond is not None else df

        label = (
            f"language_filter(include={include})"
            if include is not None
            else f"language_filter(exclude={exclude})"
        )
        self.stages.append(Stage(label, fn))
        return self

    def gopher_filter(self, **kwargs) -> "CorpusPipeline":
        from sif_spark.operators.text import gopher_signals

        self.stages.append(
            Stage(
                f"gopher_filter({kwargs})",
                lambda df: df.filter(
                    gopher_signals(self.text_col, **kwargs)["passes"]
                ),
            )
        )
        return self

    # -- dedup tiers -----------------------------------------------------
    def exact_dedup(self, keep: str = "min") -> "CorpusPipeline":
        from sif_spark.operators.dedup import exact_dedup

        self.stages.append(
            Stage(
                f"exact_dedup(keep={keep})",
                # persist=True: pipeline inputs are post-filter frames,
                # always more than a raw scan
                lambda df: exact_dedup(
                    df, self.text_col, self.id_col, keep=keep, persist=True
                ).drop("fingerprint"),
            )
        )
        return self

    def line_dedup(
        self, sep: str = "\n", mode: str = "first", min_docs: int = 2
    ) -> "CorpusPipeline":
        from sif_spark.operators.dedup import line_dedup

        def fn(df: DataFrame) -> DataFrame:
            extra = [c for c in df.columns if c not in (self.id_col, self.text_col)]
            out = line_dedup(
                df, self.text_col, self.id_col, sep=sep, mode=mode,
                min_docs=min_docs, persist=True,
            ).drop("n_lines", "n_kept")
            if extra:
                out = out.join(
                    df.select(self.id_col, *extra), self.id_col, "left"
                )
            return out

        self.stages.append(
            Stage(f"line_dedup(mode={mode}, min_docs={min_docs})", fn)
        )
        return self

    def near_dup_dedup(
        self,
        k: int = 3,
        threshold: float = 0.2,
        max_shingle_freq: int = 100,
        containment_threshold: float | None = None,
    ) -> "CorpusPipeline":
        """Jaccard near-dup clustering; only cluster survivors (min-id
        per connected component) pass. The incoming frame is
        localCheckpointed ONCE and its shingle frame computed ONCE,
        shared by pair generation — the q69/q71 single-tokenize shape,
        guaranteed by the stage rather than by caller discipline."""
        from sif_spark.operators.dedup import near_dup_clusters, ngram_jaccard_pairs
        from sif_spark.operators.text import shingle_hash_rows

        def fn(df: DataFrame) -> DataFrame:
            kept = df.localCheckpoint(eager=False)
            sh = shingle_hash_rows(
                kept, self.text_col, self.id_col, k
            ).localCheckpoint(eager=False)
            pairs = ngram_jaccard_pairs(
                kept, self.text_col, self.id_col, k=k, threshold=threshold,
                max_shingle_freq=max_shingle_freq, shingles_df=sh,
                containment_threshold=containment_threshold,
            ).select("id_a", "id_b")
            # near_dup_clusters always emits hard-coded (doc_id,
            # cluster_id) regardless of the pipeline's id_col — filter
            # on ITS names, then alias back to ours (ADVICE r5: a
            # non-default id_col crashed here with UNRESOLVED_COLUMN)
            dupes = (
                near_dup_clusters(pairs)
                .filter(F.col("doc_id") != F.col("cluster_id"))
                .select(F.col("doc_id").alias(self.id_col))
            )
            return kept.join(dupes, self.id_col, "left_anti")

        label = f"near_dup_dedup(k={k}, threshold={threshold}"
        if containment_threshold is not None:
            label += f", containment={containment_threshold}"
        self.stages.append(Stage(label + ")", fn))
        return self

    # -- sampling / mixing ----------------------------------------------
    def mixture(
        self,
        weights: dict[str, int],
        strata_col: str = "source",
        budget_tokens: int | None = None,
        resolution: int = 10_000,
    ) -> "CorpusPipeline":
        from sif_spark.operators.text import mix_corpus

        self.stages.append(
            Stage(
                f"mixture({weights})",
                lambda df: mix_corpus(
                    df, weights, strata_col=strata_col,
                    text_col=self.text_col, id_col=self.id_col,
                    budget_tokens=budget_tokens, resolution=resolution,
                ),
            )
        )
        return self

    def stratified_sample(
        self, strata_col: str, rates: dict[str, int], default_pct: int = 0
    ) -> "CorpusPipeline":
        from sif_spark.operators.text import stratified_hash_sample

        self.stages.append(
            Stage(
                f"stratified_sample({rates})",
                lambda df: stratified_hash_sample(
                    df, strata_col, rates, id_col=self.id_col,
                    default_pct=default_pct,
                ),
            )
        )
        return self

    # -- escape hatch ----------------------------------------------------
    def custom(
        self, name: str, fn: Callable[[DataFrame], DataFrame]
    ) -> "CorpusPipeline":
        self.stages.append(Stage(name, fn))
        return self

    # -- execution -------------------------------------------------------
    def describe(self) -> list[str]:
        return [s.name for s in self.stages]

    def run(
        self,
        df: DataFrame,
        checkpoint_dir: str | None = None,
        collect_stats: bool = False,
        input_token: str | None = None,
    ) -> DataFrame:
        """Fold the stages in order. With ``checkpoint_dir``, each
        stage's output lands in ``<dir>/stage_<i>`` (parquet) and a
        re-run RESUMES from the last completed stage instead of
        recomputing the whole flow — the recovery story a nightly
        100 TB job needs (a failure in stage 5 of 6 must not re-pay
        stages 1-4). Stage parameters are part of the directory
        fingerprint, so editing a stage invalidates its checkpoint and
        everything after it, never silently reusing stale data.

        Fingerprint scope (ADVICE r5): the chain hashes stage NAMES
        (which embed their parameters) plus ``input_token``. It does
        NOT hash the input data itself or the body of ``custom()``
        stage functions — a checkpoint_dir is valid for ONE input
        snapshot and one code version. Pass ``input_token`` (e.g. the
        input path + snapshot/ingest date) so re-running the same
        pipeline over DIFFERENT input invalidates every stage instead
        of silently resuming stale parquet; bump it when a custom
        stage's logic changes under an unchanged name.

        ``collect_stats=True`` records per-stage output row counts in
        ``self.last_stats`` — free when checkpointing (a count over
        the materialized parquet), one extra job per stage otherwise.
        """
        import hashlib

        self.last_stats: list[tuple[str, int]] = []
        spark = df.sparkSession
        log = None if checkpoint_dir is None else store_for(checkpoint_dir, spark)
        fingerprint = input_token or ""
        fingerprints: list[str] = []
        for i, stage in enumerate(self.stages):
            fingerprint = hashlib.md5(
                (fingerprint + stage.name).encode()
            ).hexdigest()[:12]
            fingerprints.append(fingerprint)
            if checkpoint_dir is not None:
                path = f"{checkpoint_dir}/stage_{i:02d}_{fingerprint}"
                # resume only from a COMMITTED checkpoint: the _SUCCESS
                # marker is written at job commit, so a crashed write
                # (partial files, no marker) recomputes instead of
                # silently serving half a stage
                if log.exists(f"{path}/_SUCCESS"):
                    df = spark.read.parquet(path)
                    if collect_stats:
                        self.last_stats.append((stage.name, df.count()))
                    continue
                df = stage.fn(df)
                df.write.mode("overwrite").parquet(path)
                # under the written frame's schema: no footer-inference job
                df = spark.read.schema(df.schema).parquet(path)
            else:
                df = stage.fn(df)
            if collect_stats:
                self.last_stats.append((stage.name, df.count()))
        if checkpoint_dir is not None:
            import json

            # the run manifest: the audit record of what a checkpointed
            # run actually executed
            manifest = {
                "stages": [st.name for st in self.stages],
                "fingerprints": fingerprints,
                "stats": self.last_stats if collect_stats else None,
            }
            log.replace(
                f"{checkpoint_dir}/manifest.json",
                json.dumps(manifest, indent=2).encode(),
            )
        return df


def _store_table_name(path: str) -> str:
    """Deterministic session-catalog table name for a bucketed store
    directory — recoverable from the path alone, so a fresh session
    can re-declare the external bucketed table over existing files."""
    import hashlib

    return "sif_store_" + hashlib.md5(path.encode()).hexdigest()[:16]


def _bucketed_store_frame(
    spark, path: str, schema_ddl: str, bucket_col: str, num_buckets: int
):
    """Read a bucketed store directory WITH its bucket metadata: the
    default session catalog is in-memory, so a new session re-declares
    the external bucketed table over the files (they carry the bucket
    ids in their names from the bucketBy write). Scans of this frame
    satisfy joins/aggregates on ``bucket_col`` without an Exchange."""
    name = _store_table_name(path)
    if not spark.catalog.tableExists(name):
        spark.sql(
            f"CREATE TABLE {name} ({schema_ddl}) USING parquet "
            f"CLUSTERED BY ({bucket_col}) INTO {num_buckets} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(name)


def _list_committed_epochs(log, store_dir: str) -> list[str]:
    """Epoch directories under ``store_dir`` whose survivors write
    committed (_SUCCESS), through the store ``log``. A crashed epoch
    (partial files, no marker) is invisible to history, so a retry
    recomputes it instead of deduping tonight's batch against
    half-written state."""
    return sorted(
        f"{store_dir}/{n}"
        for n in log.list_names(store_dir)
        if n.startswith("epoch_")
        and log.exists(f"{store_dir}/{n}/survivors/_SUCCESS")
    )


def daily_ingest(
    batch: DataFrame,
    store_dir: str,
    epoch_token: str,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    decontaminate_k: int = 4,
    min_hits: int = 1,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.5,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    store_buckets: int | None = None,
) -> DataFrame:
    """ONE epoch of the production training-data refresh (VERDICT r6
    "Next round" #5) — the end-to-end composition of the incremental
    pieces that previously existed only separately (q83 exact
    incremental, q85 MinHash incremental, q76 decontamination,
    pipeline input_token resume):

      1. decontaminate tonight's batch against the benchmark
         (``decontaminate`` drop mode — eval-leakage rows never enter
         the corpus or the stores),
      2. exact-dedup it against the persisted fingerprint store of
         ALL prior committed epochs, then within itself
         (`exact_dedup_incremental`),
      3. near-dup-dedup the remainder against the persisted MinHash
         signature store, then within itself
         (`minhash_dedup_incremental`),
      4. write this epoch's outputs under
         ``store_dir/epoch_<fingerprint>/``: ``fingerprints`` (exact
         survivors' md5s), ``sigs`` (near-dup survivors' signatures),
         and ``survivors`` LAST — its _SUCCESS marker is the epoch's
         commit point.

    Resume contract (the pipeline ``input_token`` semantics): the
    epoch directory name fingerprints ``epoch_token`` plus every
    dedup parameter. If the epoch is already committed, the call
    returns the stored survivors WITHOUT touching ``batch`` at all —
    day-1 stages are not re-run when day-2 arrives (pinned by
    tests/test_pipeline.py, which deletes day-1's input and re-runs).
    Change a parameter or the token and the fingerprint changes, so
    stale state is never silently reused. History = every committed
    epoch's stores, so epochs must be ingested in order.

    Scale: identical to its parts — the stores carry 16 bytes
    (fingerprint) / ``num_hashes`` longs (signature) per historical
    doc, never historical text; all joins key on uniform hashes; the
    benchmark side broadcasts. The nightly cost is O(batch + stores),
    not O(corpus).

    ``store_buckets`` (round 9, VERDICT r8 ask #5) switches the store
    to ZERO-SHUFFLE-on-history layout: each epoch's fingerprints are
    written BUCKETED on the fingerprint and an additional ``bands``
    store holds the signatures pre-exploded to (id, band_key)
    bucketed on band_key (`sig_band_keys`), so the nightly anti-join
    and band-join read every history epoch without an Exchange on the
    store side — only tonight's (small) batch shuffles, once, reused
    across epochs (plan-pinned in tests/test_ingest_bucketed.py).
    Bucketed epochs register session-local external table entries
    (deterministic names from the epoch path) — the bucket metadata
    is re-declared on each new session from the files' own bucketed
    layout, and the write path stays plain parquet + _SUCCESS, so the
    commit/resume contract and non-bucketed readers are unchanged.
    Mixed stores interoperate: a plain epoch inside a bucketed-mode
    read falls back to deriving its band keys from ``sigs``. Size
    ``store_buckets`` so a bucket's fingerprints fit one task
    (~store_rows/buckets · 16 B); the bucket count is forever — pick
    for the corpus's target size, not tonight's."""
    import hashlib

    from sif_spark.operators.dedup import (
        decontaminate,
        exact_dedup_incremental,
        minhash_dedup_incremental,
        minhash_signatures,
        sig_band_keys,
    )
    from sif_spark.sources.memory import local_frame

    spark = batch.sparkSession
    params = (
        f"{epoch_token}|k={decontaminate_k}|hits={min_hits}|h={num_hashes}"
        f"|b={num_bands}|t={threshold}|sk={shingle_k}|fn={hash_fn}"
    )
    fp = hashlib.md5(params.encode()).hexdigest()[:12]
    epoch_dir = f"{store_dir}/epoch_{fp}"
    log = store_for(store_dir, spark)
    if log.exists(f"{epoch_dir}/survivors/_SUCCESS"):
        return spark.read.parquet(f"{epoch_dir}/survivors")

    history = [d for d in _list_committed_epochs(log, store_dir) if d != epoch_dir]
    if history:
        # Signature compatibility gate (ADVICE r7): signatures are only
        # band-joinable when built with the same (num_hashes, shingle_k,
        # hash_fn) — a history epoch ingested with different sig params
        # would silently never match tonight's batch, degrading near-dup
        # history dedup to a no-op. Every epoch persists its sig params;
        # mismatches (or a pre-r8 epoch missing them) fail loudly.
        want = (num_hashes, shingle_k, hash_fn)
        id_ddl = batch.schema[id_col].dataType.simpleString()
        epoch_meta: dict[str, dict] = {}
        for d in history:
            # a record without its _SUCCESS marker is absent; any error
            # reading a committed one propagates
            if not log.exists(f"{d}/sig_params/_SUCCESS"):
                raise ValueError(
                    f"history epoch {d} has no sig_params record — rebuild "
                    "the store (pre-round-8 epochs cannot prove signature "
                    "compatibility)"
                )
            row = spark.read.parquet(f"{d}/sig_params").collect()[0]
            got = (row["num_hashes"], row["shingle_k"], row["hash_fn"])
            if got != want:
                raise ValueError(
                    f"history epoch {d} was ingested with sig params "
                    f"(num_hashes={got[0]}, shingle_k={got[1]}, "
                    f"hash_fn={got[2]!r}) incompatible with this call's "
                    f"(num_hashes={want[0]}, shingle_k={want[1]}, "
                    f"hash_fn={want[2]!r}) — its signatures would never "
                    "band-match; re-ingest history or match the params"
                )
            # Store-layout compatibility (ADVICE r9): the id type and
            # the bucket count are physical facts of the written files;
            # re-declaring them from tonight's call arguments would let
            # a drifted caller plan shuffle-free joins on WRONG bucket
            # assignments (silently incorrect dedup). Epochs written
            # before these fields existed record None and fall back to
            # batch-derived values (the files were all BIGINT/8-bucket
            # test stores then, but the fallback is still validated —
            # a mismatched join key type fails loudly in the join).
            fields = set(row.__fields__)
            rec_id = row["id_type"] if "id_type" in fields else None
            rec_buckets = row["store_buckets"] if "store_buckets" in fields else None
            if rec_id is not None and rec_id != id_ddl:
                raise ValueError(
                    f"history epoch {d} stores {id_col!r} as {rec_id}, but "
                    f"tonight's batch has {id_ddl} — the band join would "
                    "miscast; re-ingest history or align the id type"
                )
            if (
                store_buckets
                and rec_buckets  # 0/None = plain epoch, handled below
                and rec_buckets != store_buckets
            ):
                raise ValueError(
                    f"history epoch {d} was written with "
                    f"store_buckets={rec_buckets}, but this call passes "
                    f"store_buckets={store_buckets} — bucket assignments "
                    "would disagree and the zero-shuffle joins would drop "
                    "matches; the bucket count is forever (see docstring)"
                )
            epoch_meta[d] = {"id_type": rec_id or id_ddl, "buckets": rec_buckets}
        if store_buckets:
            # An epoch joins bucketed only when its RECORDED bucket
            # count matches this call's (pre-r10 epochs recorded none:
            # infer from the bands dir they only get in bucketed mode);
            # plain epochs read as plain parquet — declaring bucket
            # metadata over non-bucketed files would misplan.
            def _is_bucketed(d: str) -> bool:
                rec = epoch_meta[d]["buckets"]
                if rec is not None:
                    return rec == store_buckets
                return log.exists(f"{d}/bands/_SUCCESS")

            hist_fps = [
                _bucketed_store_frame(
                    spark,
                    f"{d}/fingerprints",
                    "fingerprint STRING",
                    "fingerprint",
                    store_buckets,
                )
                if _is_bucketed(d)
                else spark.read.parquet(f"{d}/fingerprints")
                for d in history
            ]
            hist_bands = [
                _bucketed_store_frame(
                    spark,
                    f"{d}/bands",
                    f"{id_col} {epoch_meta[d]['id_type']}, band_key BIGINT",
                    "band_key",
                    store_buckets,
                )
                if _is_bucketed(d) and log.exists(f"{d}/bands/_SUCCESS")
                # plain epoch inside a bucketed-mode read: derive keys
                else sig_band_keys(
                    spark.read.parquet(f"{d}/sigs"),
                    id_col,
                    num_bands,
                    num_hashes // num_bands,
                )
                for d in history
            ]
            hist_sigs = [spark.read.parquet(f"{d}/sigs") for d in history]
        else:
            hist_fps = spark.read.parquet(*[f"{d}/fingerprints" for d in history])
            hist_sigs = spark.read.parquet(*[f"{d}/sigs" for d in history])
            hist_bands = None
    else:
        hist_fps = local_frame(spark, "fingerprint string")
        hist_sigs = minhash_signatures(
            batch.limit(0), text_col, id_col, num_hashes, shingle_k, hash_fn
        )
        hist_bands = None

    clean = (
        decontaminate(
            batch, benchmark, text_col, id_col, k=decontaminate_k,
            min_hits=min_hits, mode="drop",
        )
        if benchmark is not None
        else batch
    )
    fresh = exact_dedup_incremental(
        clean, hist_fps, text_col, id_col
    ).localCheckpoint(eager=False)
    survivors = minhash_dedup_incremental(
        fresh,
        hist_sigs,
        text_col,
        id_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
        num_bands=num_bands,
        threshold=threshold,
        hash_fn=hash_fn,
        history_bands=hist_bands,
    ).localCheckpoint(eager=False)
    epoch_sigs = survivors.filter(F.col("sig").isNotNull()).select(id_col, "sig")
    if store_buckets:
        from sif_spark.frame import SifFrame

        SifFrame(fresh.select("fingerprint")).write_bucketed(
            _store_table_name(f"{epoch_dir}/fingerprints"),
            store_buckets,
            ["fingerprint"],
            path=f"{epoch_dir}/fingerprints",
        )
        epoch_sigs.write.mode("overwrite").parquet(f"{epoch_dir}/sigs")
        SifFrame(
            sig_band_keys(
                spark.read.parquet(f"{epoch_dir}/sigs"),
                id_col,
                num_bands,
                num_hashes // num_bands,
            )
        ).write_bucketed(
            _store_table_name(f"{epoch_dir}/bands"),
            store_buckets,
            ["band_key"],
            path=f"{epoch_dir}/bands",
        )
    else:
        fresh.select("fingerprint").write.mode("overwrite").parquet(
            f"{epoch_dir}/fingerprints"
        )
        epoch_sigs.write.mode("overwrite").parquet(f"{epoch_dir}/sigs")
    # params record BEFORE the survivors commit marker, so every
    # committed epoch can prove signature compatibility (ADVICE r7)
    # and store-layout compatibility — id type + bucket count are
    # facts of the written files, not of a later caller (ADVICE r9)
    local_frame(
        spark,
        "num_hashes int, shingle_k int, hash_fn string, "
        "id_type string, store_buckets int",
        {
            "num_hashes": [num_hashes],
            "shingle_k": [shingle_k],
            "hash_fn": [hash_fn],
            "id_type": [batch.schema[id_col].dataType.simpleString()],
            "store_buckets": [store_buckets or 0],
        },
    ).coalesce(1).write.mode("overwrite").parquet(f"{epoch_dir}/sig_params")
    survivors.drop("sig").write.mode("overwrite").parquet(f"{epoch_dir}/survivors")
    return spark.read.parquet(f"{epoch_dir}/survivors")


_CONFIG_STAGES = {
    "quality_filter": "quality_filter",
    "language_filter": "language_filter",
    "gopher_filter": "gopher_filter",
    "exact_dedup": "exact_dedup",
    "line_dedup": "line_dedup",
    "near_dup_dedup": "near_dup_dedup",
    "mixture": "mixture",
    "stratified_sample": "stratified_sample",
}


def from_config(config: dict) -> CorpusPipeline:
    """Build a pipeline from a plain dict (the shape a job's YAML/JSON
    deserializes to):

        {"text_col": "text", "id_col": "doc_id",
         "stages": [
           {"stage": "quality_filter", "min_score": 0.5},
           {"stage": "language_filter", "exclude": ["und"]},
           {"stage": "exact_dedup"},
           {"stage": "near_dup_dedup", "threshold": 0.2},
           {"stage": "mixture", "weights": {"web": 7, "books": 3}}]}

    Unknown stage names error with the valid set (a config typo must
    not silently drop a cleaning stage). Tuple-typed parameters
    (language lists) accept JSON lists."""
    pipe = CorpusPipeline(
        text_col=config.get("text_col", "text"),
        id_col=config.get("id_col", "doc_id"),
    )
    for spec in config.get("stages", []):
        spec = dict(spec)
        name = spec.pop("stage", None)
        if name not in _CONFIG_STAGES:
            raise ValueError(
                f"unknown pipeline stage {name!r}; valid: "
                f"{sorted(_CONFIG_STAGES)}"
            )
        for k, v in list(spec.items()):
            if isinstance(v, list):
                spec[k] = tuple(v)
        getattr(pipe, _CONFIG_STAGES[name])(**spec)
    return pipe
