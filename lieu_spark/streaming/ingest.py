"""Incremental transcript ingest — Structured Streaming front door.

The reference has no streaming (SURVEY.md §2.9); its incremental shape
is batch-over-batch index merging (``update_doc_frequency``,
/root/reference/lib/lieu/spark/tfidf.py:43-45). We keep that shape and
put Structured Streaming in front of it: ``readStream`` over an arriving
directory/table of turn rows, ``foreachBatch`` assembling each
micro-batch's *complete* conversations and matching them against the
canonical index (the ``match()`` ingest-against-index mode,
lib/lieu/spark/dedupe.py:24-48), then folding new signatures into the
index — exactly how a 100 TB deployment dedupes arriving data without
re-blocking the corpus.

Scale shape (the O(index)-per-batch fix): the *derived* LSH band table
is folded incrementally per batch exactly like the feature table — the
reference's incremental fold updates the derived statistic, not the raw
docs (lib/lieu/spark/tfidf.py:43-45) — and stored partitioned by a
band-hash bucket. Each micro-batch then:
  * reads only directory METADATA (one listStatus) to learn the newest
    folded batch — no full-scan ``max(batch_id)`` aggregates;
  * joins its own (small) band table against the STORED band state with
    the incoming side broadcast and the stored side pruned to the
    band-hash buckets the batch actually touches — one pruned scan of
    pre-derived bands, never a re-band (sig explode) of the index.
Per-batch match cost is therefore O(batch) work + one pruned metadata-
backed scan, not O(index) recompute — the per-batch walls stay flat as
the index grows (tracked in bench.py's ``stream_batch_walls``).

Candidates come from operators/blocking.py (see it for the rep-blocking
closure argument). SimHash pairs WITHIN a micro-batch only: the stream
state keeps no chunk fold, so cross-batch SimHash pairs are not matched.

Semantics note: a conversation is matchable once all its turns have
arrived in one micro-batch window here; cross-batch turn assembly is
provided by ``streaming/stateful.py`` (``applyInPandasWithState`` keyed
by conv_id with an event-time timeout) — same output contract, so the
two front doors are interchangeable. Event-time windowed aggregations
with watermarked late-data handling live in ``streaming/windows.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, DedupeConfig
from ..metrics import record_stages
from ..operators.assemble import assemble_conversations
from ..operators import blocking
from ..operators.lsh import band_table_dual
from ..operators.verify import verify_pairs
from ..pipeline import build_features

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

# default band-store partitioning modulus for NEW state dirs: stored
# bands are partitioned by pmod(band_hash, buckets) so a micro-batch's
# match join prunes to the buckets it actually touches. The modulus an
# EXISTING store was written with is stamped in its _layout.json and
# always wins — pruning with a different modulus than the one baked
# into the directory names would silently drop true matches, so this
# constant only seeds brand-new state.
BAND_BUCKETS = 64

# cap on the candidate-id literal list pushed into the verify-side index
# scan (In(conv_id, ...) row-group pruning); larger candidate sets fall
# back to the plain join — a physical knob, not a semantic one
VERIFY_ID_CAP = 10_000

# measured-count gate on the per-batch broadcast hints (the streaming
# twin of operators/refresh.REFRESH_BROADCAST_CAP): a trickle batch
# broadcasts, an index-sized availableNow catch-up batch degrades to
# shuffle joins instead of a driver-OOM broadcast
STREAM_BROADCAST_CAP = 1_000_000


# small-file / marker I/O through the Hadoop FS (shared with the
# checkpoint stage store — see lieu_spark.fsutil for why driver-local
# open() is wrong for hdfs:// / s3:// state dirs)
from ..fsutil import fs_read_text as _fs_read_text  # noqa: E402
from ..fsutil import fs_write_text as _fs_write_text  # noqa: E402
from ..fsutil import hadoop_fs as _hadoop_fs  # noqa: E402
from ..fsutil import path_exists as _path_exists  # noqa: E402


def _batch_subdir_ids(spark: SparkSession, dir_str: str) -> list[int] | None:
    """batch_id= subdirectories of a state dir, from directory METADATA
    (one listStatus call — no data scan, no Spark job). Returns None for
    a missing dir (genuinely fresh state). A dir that exists but holds
    plain data files instead of batch_id= subdirs is the pre-idempotent
    (flat append) layout and raises — silently treating it as fresh
    would rebuild state into a mixed, unreadable directory.

    This replaces the previous per-batch full-scan ``max(batch_id)``
    aggregates AND their AnalysisException message-string probing
    ("PATH_NOT_FOUND"/"Path does not exist") with a metadata call that
    has no error-text dependence at all."""
    fs, path = _hadoop_fs(spark, dir_str)
    if not fs.exists(path):
        return None
    ids: list[int] = []
    stray = False
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if name.startswith("batch_id="):
            try:
                ids.append(int(name.split("=", 1)[1]))
            except ValueError:
                stray = True
        elif not name.startswith("_") and not name.startswith("."):
            stray = True
    if stray and not ids:
        raise ValueError(
            f"state dir {dir_str} has no batch_id= partitioning — it was "
            "written by the pre-idempotent (flat append) layout. Rebuild "
            "the stream state in a fresh work_dir (replaying the landing "
            "directory reproduces it)."
        )
    return ids


COMPACT_TMP = "_compacting"


def _finish_compaction(spark: SparkSession, state_dir: str) -> bool:
    """Complete (or clean up) a pending compaction swap.

    The tmp dir holds the FULL merged data; its manifest (written last)
    is the commit point. Missing manifest = aborted build: original
    subdirs are intact, so the tmp is garbage and is deleted. Present
    manifest = committed: deleting the merged subdirs and renaming the
    tmp to batch_id=<target> is idempotent, so a crash anywhere in the
    swap is healed by re-running this (readers call it before every
    state load)."""
    import json as _json

    tmp = f"{state_dir}/{COMPACT_TMP}"
    if not _path_exists(spark, tmp):
        return False
    fs, _ = _hadoop_fs(spark, state_dir)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    manifest_path = f"{tmp}/_MANIFEST.txt"
    if not _path_exists(spark, manifest_path):
        fs.delete(jvm_path(tmp), True)  # aborted build; originals intact
        return False
    manifest = _json.loads(_fs_read_text(spark, manifest_path))
    # Hadoop FileSystem reports failure by RETURNING FALSE, not raising.
    # An unchecked failed delete of the target subdir would make the
    # rename below move the tmp dir INSIDE the still-existing target
    # (HDFS rename-into-directory semantics), stranding the only copy of
    # the merged batches in a hidden nested path — so every step is
    # checked and a failure raises with the swap still healable (tmp +
    # manifest intact, re-running this completes it).
    for b in manifest["merged"]:
        p = jvm_path(f"{state_dir}/batch_id={b}")
        if fs.exists(p) and not fs.delete(p, True):
            raise IOError(
                f"compaction swap: failed to delete merged subdir {p} of "
                f"{state_dir}; tmp+manifest left intact — re-run to heal"
            )
    target = jvm_path(f"{state_dir}/batch_id={manifest['target']}")
    if not fs.rename(jvm_path(tmp), target):
        raise IOError(
            f"compaction swap: failed to rename {tmp} to {target}; "
            "tmp+manifest left intact — re-run to heal"
        )
    return True


def _resolve_state_dirs(spark: SparkSession, work_dir: str) -> dict[str, str]:
    """Map state kinds to their directories, honoring BOTH layouts:
    run_stream's ``{work_dir}/{bands,shas}`` and IncrementalDeduper's
    constructor defaults ``{index_dir}_bands`` / ``{index_dir}_shas``.
    Existence decides (the legacy suffix layout wins only when the
    run_stream dir is absent and it is present) — compacting the wrong
    path would silently no-op the kind while still compacting the index,
    leaving band/sha batch ids out of sync with the merged index."""
    index_dir = f"{work_dir}/index"
    dirs = {"index": index_dir}
    for kind, suffix in (("bands", "_bands"), ("shas", "_shas")):
        primary = f"{work_dir}/{kind}"
        legacy = f"{index_dir}{suffix}"
        if not _path_exists(spark, primary) and _path_exists(spark, legacy):
            dirs[kind] = legacy
        else:
            dirs[kind] = primary
    return dirs


def compact_state(
    spark: SparkSession,
    work_dir: str,
    keep_last: int = 1,
    cfg: DedupeConfig | None = None,
) -> dict:
    """Merge all but the newest ``keep_last`` batch subdirectories of the
    index and band state into ONE subdir each (labeled with the highest
    merged batch id, so every `batch_id < N` read is unchanged).

    Why: per-batch subdirs are the idempotence unit, but a long-lived
    stream accumulates one per micro-batch — at 10^5 batches the
    listStatus and partition discovery that make per-batch reads cheap
    become the bottleneck themselves. Periodic compaction keeps the
    subdir count O(1) while preserving exact semantics: the merged data
    is the union of the merged subdirs (row-identical), the newest
    ``keep_last`` batches stay un-merged because only the newest batch
    can be replayed by the at-least-once checkpoint, and the index is
    rewritten clustered+sorted by conv_id so the verify-side
    In(conv_id, ...) pushdown prunes even better than against the raw
    fold. Crash-safe: data lands in a tmp dir first, the manifest is
    the commit point, and readers auto-heal a half-finished swap
    (_finish_compaction). Pairs subdirs are NOT compacted — they are a
    results log with per-batch provenance, not matcher state.

    Run this with the stream STOPPED (the --compact CLI flag runs it
    after an availableNow drain): crash-recovery covers a compactor
    that dies, but a reader that lists the state dir in the window
    between the swap's deletes and its rename would see a partial
    union — single-writer-at-a-time is the contract, same as every
    non-transactional parquet layout (an Iceberg-backed deployment
    gets this atomicity from the table format instead).

    Holes first: any index batch missing its band/sha subdir (the
    crash/surgery cases _band_state and _sha_state backfill) is
    backfilled BEFORE merging — merging around a hole would bake it
    into state permanently, because afterwards the per-kind batch ids
    line up again and the backfill can never detect the missing rows
    (silent recall loss for every doc in the lost subdir). Sha backfill
    is a pure projection; band backfill derives bands and therefore
    needs the stream's ``cfg`` — required only when a band hole
    actually exists, and checked against the work_dir's config marker
    so a wrong config can't corrupt the store."""
    import json as _json

    if keep_last < 1:
        # keep_last=0 would merge the NEWEST batch into the compacted
        # union labeled with its own id — the one batch the
        # at-least-once checkpoint can replay, whose overwrite would
        # then replace the whole merged index with that batch's output
        # (total, undetected index loss)
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    out: dict = {}
    fs, _ = _hadoop_fs(spark, work_dir)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    dirs = _resolve_state_dirs(spark, work_dir)
    for state_dir in dirs.values():
        _finish_compaction(spark, state_dir)
    index_ids = _batch_subdir_ids(spark, dirs["index"]) or []
    if index_ids:
        after_newest = max(index_ids) + 1
        ded = IncrementalDeduper(
            spark,
            dirs["index"],
            f"{work_dir}/pairs",
            cfg or DEFAULT_CONFIG,
            bands_dir=dirs["bands"],
            shas_dir=dirs["shas"],
        )
        # sha backfill: exact projection of the index, config-free
        ded._sha_state(before_batch=after_newest)
        band_holes = set(index_ids) - set(
            _batch_subdir_ids(spark, dirs["bands"]) or []
        )
        if band_holes:
            if cfg is None:
                raise ValueError(
                    f"band state at {dirs['bands']} is missing subdirs for "
                    f"index batches {sorted(band_holes)}; backfilling them "
                    "derives bands and needs the stream's DedupeConfig — "
                    "pass cfg= (merging around the hole would bake it in)"
                )
            marker = f"{work_dir}/_config_marker"
            if _path_exists(spark, marker):
                lines = [r.value for r in spark.read.text(marker).collect()]
                stored = _json.loads("".join(lines))["fingerprint"]
                if stored != cfg.fingerprint():
                    raise ValueError(
                        f"work_dir {work_dir} was built with config "
                        f"fingerprint {stored}; backfilling bands with the "
                        f"given config ({cfg.fingerprint()}) would corrupt "
                        "the store"
                    )
            ded._band_state(before_batch=after_newest)
    for kind, state_dir in dirs.items():
        ids = sorted(_batch_subdir_ids(spark, state_dir) or [])
        if len(ids) - keep_last < 2:
            out[kind] = {"merged": 0}
            continue
        merge = ids[: len(ids) - keep_last]
        target = max(merge)
        df = (
            spark.read.parquet(state_dir)
            .filter(F.col("batch_id").isin(merge))
            .drop("batch_id")
        )
        tmp = f"{state_dir}/{COMPACT_TMP}"
        if _path_exists(spark, tmp):
            fs.delete(jvm_path(tmp), True)
        if kind == "index":
            (
                df.repartition(
                    max(spark.sparkContext.defaultParallelism, 1), F.col("conv_id")
                )
                .sortWithinPartitions("conv_id")
                .write.mode("overwrite")
                .parquet(tmp)
            )
        elif kind == "shas":
            # range-partitioned + sorted: each file covers a contiguous
            # sha range, so the In(text_sha, ...) pushdown skips files
            (
                df.repartitionByRange(
                    max(spark.sparkContext.defaultParallelism // 4, 1),
                    F.col("text_sha"),
                )
                .sortWithinPartitions("text_sha")
                .write.mode("overwrite")
                .parquet(tmp)
            )
        else:
            (
                df.repartition(F.col("bh_bucket"))
                .write.mode("overwrite")
                .partitionBy("bh_bucket")
                .parquet(tmp)
            )
        _fs_write_text(
            spark,
            f"{tmp}/_MANIFEST.txt",
            _json.dumps({"merged": merge, "target": target}),
        )
        _finish_compaction(spark, state_dir)
        out[kind] = {"merged": len(merge), "target": target}
    return out


class IncrementalDeduper:
    """foreachBatch handler: match each micro-batch against the canonical
    index, append verified pairs, fold new uniques (and their derived
    band table) into the per-batch state."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        pairs_dir: str,
        cfg: DedupeConfig = DEFAULT_CONFIG,
        metrics_dir: str | None = None,
        run_id: str = "stream",
        bands_dir: str | None = None,
        shas_dir: str | None = None,
    ) -> None:
        if cfg.asymmetry_field is not None or cfg.revision_field is not None:
            raise ValueError(
                "IncrementalDeduper: auxiliary-field pair rules "
                "(cfg.asymmetry_field/revision_field) are not supported "
                "on the streaming path — the stored index carries no "
                "per-conversation field-signature state, so stream "
                "verdicts would silently diverge from the batch "
                "pipeline's under the same config. Use the batch "
                "pipeline for aux-enabled configs."
            )
        self.spark = spark
        self.index_dir = index_dir
        self.pairs_dir = pairs_dir
        self.bands_dir = bands_dir or f"{index_dir}_bands"
        self.shas_dir = shas_dir or f"{index_dir}_shas"
        self.cfg = cfg
        self.metrics_dir = metrics_dir
        self.run_id = run_id

    def _newest_state_batch(self) -> int | None:
        """Newest batch id present in state, from directory metadata.
        Consults BOTH index and pairs dirs: a batch always writes its
        pairs subdir, so pairs covers the zero-new-uniques case."""
        newest: int | None = None
        for d in (self.index_dir, self.pairs_dir):
            ids = _batch_subdir_ids(self.spark, d)
            if ids:
                top = max(ids)
                newest = top if newest is None else max(newest, top)
        return newest

    def _load_index(self, before_batch: int) -> DataFrame | None:
        """Canonical feature index as of the start of ``before_batch``:
        the union of batch subdirectories with batch_id < before_batch.

        Per-batch subdirs + the strict < filter make replays
        deterministic: if a batch partially wrote its own index subdir
        before a failure, the rerun neither matches the batch against
        its own half-written output nor double-counts it — the replay
        sees exactly the pre-batch state and OVERWRITES its own subdir.

        Failure modes are distinguished from fresh state, not collapsed
        into it: a flat (pre-upgrade) layout raises in
        ``_batch_subdir_ids``, and an index containing batch ids NEWER
        than the current batch means the stream checkpoint was lost or
        re-pointed — batch ids restarted — and proceeding would
        OVERWRITE old state subdir by subdir."""
        # auto-heal a half-finished compaction swap before ANY state
        # read — the tmp dir holds the full merged data, so completion
        # is deterministic (see _finish_compaction)
        _finish_compaction(self.spark, self.index_dir)
        _finish_compaction(self.spark, self.bands_dir)
        _finish_compaction(self.spark, self.shas_dir)
        newest = self._newest_state_batch()
        if newest is not None and newest > before_batch:
            raise ValueError(
                f"stream state at {self.index_dir} already contains "
                f"batch {newest} but the stream is processing batch "
                f"{before_batch} — the streaming checkpoint was lost or "
                "re-pointed and batch ids restarted. Proceeding would "
                "overwrite existing state; restore the original "
                "checkpoint or start a fresh work_dir."
            )
        ids = _batch_subdir_ids(self.spark, self.index_dir)
        if not ids or not any(i < before_batch for i in ids):
            return None
        return (
            self.spark.read.parquet(self.index_dir)
            .filter(F.col("batch_id") < before_batch)
            .drop("batch_id")
        )

    def _band_buckets(self) -> int:
        """Partitioning modulus of the band store: read from the store's
        _layout.json (stamped on first write). A store that predates the
        marker was written with the original constant 64 and is stamped
        as such; only a brand-new store adopts the current BAND_BUCKETS.
        Pruning/folding MUST use the stored modulus — the bucket values
        are baked into directory names."""
        import json as _json

        if getattr(self, "_band_buckets_cached", None) is not None:
            return self._band_buckets_cached
        marker = f"{self.bands_dir}/_layout.json"
        if _path_exists(self.spark, marker):
            buckets = int(_json.loads(_fs_read_text(self.spark, marker))["band_buckets"])
        else:
            # infer WITHOUT writing: this accessor also serves read-only
            # paths (pruning, diagnostics against a store another writer
            # owns) and a reader must not mutate state under the
            # single-writer contract — the marker is stamped by
            # _write_bands (the write path) only
            legacy = _batch_subdir_ids(self.spark, self.bands_dir)
            buckets = 64 if legacy else BAND_BUCKETS
        self._band_buckets_cached = buckets
        return buckets

    def _stamp_band_layout(self) -> None:
        """Persist the band store's partitioning modulus (write path
        only — called from _write_bands before the first fold so every
        later reader prunes with the modulus the directory names were
        actually written with)."""
        import json as _json

        marker = f"{self.bands_dir}/_layout.json"
        if not _path_exists(self.spark, marker):
            _fs_write_text(
                self.spark,
                marker,
                _json.dumps({"band_buckets": self._band_buckets()}),
            )

    def _write_bands(self, feats: DataFrame, batch_id: int) -> None:
        """Fold the batch's derived band table into per-batch state,
        partitioned by band-hash bucket (same overwrite-own-subdir
        idempotence recipe as the feature fold)."""
        self._stamp_band_layout()
        (
            band_table_dual(feats, self.cfg)
            .withColumn(
                "bh_bucket",
                F.pmod(F.col("band_hash"), F.lit(self._band_buckets())).cast("int"),
            )
            .repartition(F.col("bh_bucket"))
            .write.mode("overwrite")
            .partitionBy("bh_bucket")
            .parquet(f"{self.bands_dir}/batch_id={batch_id}")
        )

    def _band_state(self, before_batch: int) -> DataFrame | None:
        """Stored band table as of the start of ``before_batch``.

        Any index batch missing its band subdir (manual state surgery, a
        crash in the window between the index write and the band fold of
        a batch that was then never replayed) is backfilled here — band
        derivation is deterministic, so backfill reproduces exactly what
        the fold would have written. Backfill REQUIRES the dual-family
        feature schema: an index written by a pre-dual build would
        backfill family-untagged bands and silently lose char-family
        matches, so it is refused loudly instead (such state is already
        unresumable — the config fingerprint changed — and must be
        rebuilt by replaying the landing directory)."""
        band_ids = set(_batch_subdir_ids(self.spark, self.bands_dir) or [])
        index_ids = _batch_subdir_ids(self.spark, self.index_dir) or []
        prior = [i for i in index_ids if i < before_batch]
        for i in sorted(set(prior) - band_ids):
            feats = self.spark.read.parquet(f"{self.index_dir}/batch_id={i}")
            missing = {"alt_sig", "char_primary"} - set(feats.columns)
            if missing:
                raise ValueError(
                    f"index batch {i} at {self.index_dir} lacks the dual-"
                    f"family feature columns {sorted(missing)} — it was "
                    "written by a pre-dual-schema build and cannot be "
                    "band-backfilled safely. Rebuild the stream state in "
                    "a fresh work_dir (replaying the landing directory "
                    "reproduces it)."
                )
            self._write_bands(feats, i)
        if not prior:
            return None
        return (
            self.spark.read.parquet(self.bands_dir)
            .filter(F.col("batch_id") < before_batch)
            .drop("batch_id")
        )

    def _write_shas(self, feats: DataFrame, batch_id: int) -> None:
        """Fold the batch's (conv_id, text_sha) projection into per-batch
        state, range-partitioned + sorted by text_sha — each file covers
        a contiguous sha range, so the cross-batch exact match's pushed
        In(text_sha, ...) predicate skips files/row groups instead of
        scanning the full feature index. Range partitioning (not
        coalesce(1)): a large catch-up batch or an index-sized backfill
        must not funnel its whole sort+write through one task."""
        parts = max(self.spark.sparkContext.defaultParallelism // 4, 1)
        (
            feats.select("conv_id", "text_sha")
            .repartitionByRange(parts, F.col("text_sha"))
            .sortWithinPartitions("text_sha")
            .write.mode("overwrite")
            .parquet(f"{self.shas_dir}/batch_id={batch_id}")
        )

    def _sha_state(self, before_batch: int) -> DataFrame | None:
        """Stored (conv_id, text_sha) table as of ``before_batch``;
        a missing sha subdir (same crash/surgery cases as _band_state)
        is backfilled from the feature index — the projection is exact,
        so backfill reproduces the fold bit-for-bit."""
        sha_ids = set(_batch_subdir_ids(self.spark, self.shas_dir) or [])
        index_ids = _batch_subdir_ids(self.spark, self.index_dir) or []
        prior = [i for i in index_ids if i < before_batch]
        for i in sorted(set(prior) - sha_ids):
            self._write_shas(
                self.spark.read.parquet(f"{self.index_dir}/batch_id={i}"), i
            )
        if not prior:
            return None
        return (
            self.spark.read.parquet(self.shas_dir)
            .filter(F.col("batch_id") < before_batch)
            .drop("batch_id")
        )

    def _pruned_shas(self, stored_shas: DataFrame, feats: DataFrame) -> DataFrame:
        """Prune the stored sha table to the batch's own shas: a bounded
        collect of the batch's distinct text_shas (micro-batch-sized)
        pushed as In(text_sha, ...) — row groups of the sha-sorted fold
        skip. Past the cap the plain join stands (a matching stored row
        must share text_sha with some batch row, so pruning is
        parity-exact)."""
        shas = [
            r[0]
            for r in feats.select("text_sha")
            .distinct()
            .limit(VERIFY_ID_CAP + 1)
            .collect()
        ]
        if len(shas) > VERIFY_ID_CAP:
            return stored_shas
        return stored_shas.filter(F.col("text_sha").isin(shas))

    def _bounded_index(self, index: DataFrame, cand: DataFrame) -> DataFrame:
        """Index features restricted to the ids verification can touch
        (cand's id_a side — id_b is always batch-local). A bounded
        collect (≤ VERIFY_ID_CAP + 1, over the PERSISTED candidate set)
        turns the restriction into a pushed In(conv_id, ...) predicate,
        so the scan of the wide feature columns row-group-prunes against
        the sorted per-batch fold; past the cap the plain full join
        stands (parity-exact either way — dropped rows cannot join)."""
        ids = [
            r[0]
            for r in cand.select("id_a")
            .distinct()
            .limit(VERIFY_ID_CAP + 1)
            .collect()
        ]
        if len(ids) > VERIFY_ID_CAP:
            return index
        return index.filter(F.col("conv_id").isin(ids))

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Candidates (operators/blocking.py) = within-batch self-pairs
        (``within_candidates``: the batch pipeline's families, so a
        batch's OWN near-dups pair here) ∪ incoming-vs-index pairs
        (``cross_candidates``: LSH match against the STORED band state ∪
        text_sha equi-join against the stored sha fold — the sha join
        makes the pipeline's GLOBAL exact star hold across batches).
        SimHash pairs only within a batch (module docstring). Dupe
        members (the id_b side — min-id canonical stays) are withheld
        from the index fold, so connected components over the
        accumulated pairs reproduces the batch pipeline's clusters
        (parity asserted in tests/test_streaming.py).

        The vs-index match joins the batch's bands (broadcast — a
        micro-batch is small) against the stored, pre-derived band
        state pruned to the batch's own band-hash buckets: no sig
        explode over the index, no shuffle of the stored side. The
        verify-side feature fetch is bounded to the candidate ids
        (_bounded_index: a pushed In(conv_id,...) predicate that
        row-group-prunes the wide columns against the sorted fold).
        The cross-batch exact match reads a dedicated sha-sorted
        (conv_id, text_sha) fold pruned to the batch's own shas
        (_pruned_shas) — so EVERY per-batch touch of the canonical
        state is pruned or bounded; nothing scales with raw index size
        except the (skippable) row groups themselves.

        Exactly-once state under at-least-once foreachBatch: pairs,
        index fold, and band fold are written to per-batch
        subdirectories with mode=overwrite — a checkpoint replay of the
        same deterministic batch overwrites its own output instead of
        appending a second copy (the standard foreachBatch idempotence
        recipe)."""
        import time as _time

        t0 = _time.time()
        # max_turns MUST flow here: a capped conversation's stream-side
        # text_sha has to hash identically to pipeline-built stored
        # state this deduper equi-joins against (and the cap bounds the
        # per-conv collect_list buffer on the stream path too)
        convs = assemble_conversations(
            batch_df, max_turns=self.cfg.max_turns_per_conv
        )
        feats = build_features(convs, self.cfg).persist()
        # gate the batch-side broadcasts on the MEASURED batch size
        # (refresh.py's REFRESH_BROADCAST_CAP rule): a trickle batch is
        # tiny, but an availableNow catch-up batch is up to
        # files_per_trigger arbitrary-size files — force-broadcasting an
        # index-sized backfill would OOM the driver. The count runs on
        # the persisted frame, so it materializes work every later
        # action reuses (no re-execution).
        small_batch = feats.count() <= STREAM_BROADCAST_CAP
        feat_reps = blocking.representatives(feats)
        # persisted: three differently-pruned consumers (within-batch
        # LSH, the bucket-prune collect, the vs-index match)
        feat_bands = band_table_dual(feat_reps, self.cfg).persist()
        within = blocking.within_candidates(
            feat_reps, feat_bands, feats, self.cfg
        ).select("id_a", "id_b")
        index = self._load_index(before_batch=batch_id)
        if index is not None:
            # state loads stay serial (they can backfill/write); the two
            # PRUNE helpers each run a bounded read-only collect (the
            # batch's touched buckets / the batch's distinct shas) —
            # independent jobs, so they run concurrently and the shorter
            # one hides inside the longer (the fold-write rule applied
            # to the match phase's driver round-trips)
            stored_bands = self._band_state(before_batch=batch_id)
            stored_shas = self._sha_state(before_batch=batch_id)
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                fut_bands = pool.submit(
                    self._prune_buckets, stored_bands, feat_bands
                )
                fut_shas = pool.submit(self._pruned_shas, stored_shas, feats)
                pruned_bands = fut_bands.result()
                pruned_shas = fut_shas.result()
            cross = blocking.cross_candidates(
                pruned_bands,
                pruned_shas,
                feat_bands,
                feats,
                self.cfg,
                broadcast_incoming=small_batch,
            ).select(
                F.col("standing_id").alias("id_a"),
                F.col("incoming_id").alias("id_b"),
            )
            cand = (
                within.unionByName(cross)
                .dropDuplicates(["id_a", "id_b"])
                .persist()
            )
            # bound the verify-side index scan: the only canonical
            # features verification can touch are the cand id_a rows
            # (the id_b side is always this batch). For the typical
            # trickle batch that is a short literal list — pushed into
            # the parquet scan as In(conv_id, ...), it row-group-prunes
            # the WIDE columns (shingle sets) via the min/max stats the
            # sorted fold below guarantees. Past the cap, fall back to
            # the plain join (AQE broadcasts the candidate side).
            all_feats = self._bounded_index(index, cand).unionByName(feats)
        else:
            cand = within.dropDuplicates(["id_a", "id_b"]).persist()
            all_feats = feats
        # persist: pairs write and the index fold below are two actions
        # over this plan — unpersisted, the second re-runs banding,
        # the stored-band join, and verification end-to-end
        verified = verify_pairs(
            cand, all_feats, self.cfg, method="stream_match"
        ).persist()
        verified.write.mode("overwrite").parquet(
            f"{self.pairs_dir}/batch_id={batch_id}"
        )
        # sub-stage attribution: everything up to the pairs write is the
        # MATCH phase (assemble/features/banding/state-pruned joins/
        # verify — the first action materializes the whole chain); what
        # follows is the per-batch FIXED COST of the state folds. The
        # split is what makes a wall inflation diagnosable from the
        # metrics table alone (grows-with-batch => match; flat =>
        # fold/commit overhead).
        t_match_done = _time.time()
        cand.unpersist()
        dupe_ids = (
            verified.filter(
                F.col("status").isin("exact_duplicate", "likely_duplicate")
            )
            .select(F.col("id_b").alias("conv_id"))
            .distinct()
        )
        new_uniques = feats.join(dupe_ids, "conv_id", "left_anti").persist()
        # materialize ONCE before the fold writes: the three folds below
        # run concurrently, and racing jobs over an unmaterialized cache
        # would each recompute the anti-join instead of reading it
        new_uniques.count()
        # S8 parity: fold this batch's uniques into the canonical index
        # (sorted within partitions by conv_id so parquet min/max stats
        # make later batches' In(conv_id, ...) verify pushdown prune row
        # groups), then fold their DERIVED band table (same subdir
        # recipe) so no later batch ever re-bands the index.
        # The three fold writes are INDEPENDENT jobs over the persisted
        # new_uniques (different output dirs, no cross-reads), so they
        # run from a small thread pool — the scheduler back-fills the
        # tail of one write with the next one's tasks (guide-standard
        # overlap of independent actions) instead of paying three full
        # job latencies in sequence. Failure semantics unchanged: any
        # write raising propagates out of process_batch and the batch
        # replays (per-batch overwrite idempotence).
        from concurrent.futures import ThreadPoolExecutor

        def _fold_index() -> None:
            new_uniques.sortWithinPartitions("conv_id").write.mode(
                "overwrite"
            ).parquet(f"{self.index_dir}/batch_id={batch_id}")

        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                pool.submit(_fold_index),
                pool.submit(self._write_bands, new_uniques, batch_id),
                pool.submit(self._write_shas, new_uniques, batch_id),
            ]
            for f in futs:
                f.result()
        t_fold_done = _time.time()
        if self.metrics_dir is not None:
            # per-batch, per-partition lineage (north_rule): one cheap
            # pass over the PERSISTED frames, no recompute. Three rows
            # per batch — total wall, match-phase wall, state-fold wall
            # (see the sub-stage note above) — in ONE write job
            # (record_stages): per-batch fixed cost stays one commit.
            record_stages(
                self.spark,
                self.metrics_dir,
                self.run_id,
                [
                    (
                        f"stream_features@batch{batch_id}",
                        feats,
                        t_fold_done - t0,
                    ),
                    (
                        f"stream_match@batch{batch_id}",
                        verified,
                        t_match_done - t0,
                    ),
                    (
                        f"stream_fold@batch{batch_id}",
                        new_uniques,
                        t_fold_done - t_match_done,
                    ),
                ],
                self.cfg.fingerprint(),
            )
        new_uniques.unpersist()
        verified.unpersist()
        feat_bands.unpersist()
        feats.unpersist()

    def _prune_buckets(
        self, stored_bands: DataFrame, feat_bands: DataFrame
    ) -> DataFrame:
        """Partition-prune the stored band state to the band-hash
        buckets the micro-batch actually touches. A matching stored row
        shares band_hash with some incoming row, hence its bucket —
        filtered rows cannot match, so pruning is parity-exact. The
        bucket list is a bounded collect (≤ the store's modulus) over
        the micro-batch's own bands; with the listed values in an
        ``isin`` predicate on the partition column, Spark skips the
        untouched bucket directories entirely — the trickle-batch case
        reads a fraction of the stored state. The modulus comes from
        the STORE's layout marker, never the module constant — pruning
        with a different modulus than the directory names were written
        with would silently drop true matches."""
        mod = self._band_buckets()
        buckets = sorted(
            r[0]
            for r in feat_bands.select(
                F.pmod(F.col("band_hash"), F.lit(mod)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        )
        if len(buckets) >= mod:
            return stored_bands
        return stored_bands.filter(F.col("bh_bucket").isin(buckets))


def run_stream(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    cfg: DedupeConfig = DEFAULT_CONFIG,
    available_now: bool = True,
    files_per_trigger: int = 8,
    metrics_dir: str | None = None,
):
    """Wire the stream; with available_now=True drains what's on disk and
    stops (test mode / catch-up mode).

    Config guard (the streaming twin of checkpoint.StageStore's
    fingerprint invalidation): the first run stamps
    ``work_dir/_config.json`` with the config fingerprint; a rerun with
    a different config refuses to resume — folding, say, k=7 shingle
    features into a k=5 index would silently corrupt every subsequent
    match. Start a fresh work_dir (or delete the old one) to change
    config."""
    import json as _json

    # marker I/O goes through Spark's Hadoop filesystem (a one-line text
    # "directory file"), NOT driver-local open(): a work_dir on
    # hdfs:// or s3:// must hit the same store as the state it guards —
    # a local-path marker would silently no-op the guard for remote dirs
    marker = f"{work_dir}/_config_marker"
    fp = cfg.fingerprint()
    if _path_exists(spark, marker):
        lines = [r.value for r in spark.read.text(marker).collect()]
        try:
            stored = _json.loads("".join(lines))["fingerprint"]
        except (ValueError, KeyError):
            # a corrupt marker next to existing state must NOT be
            # silently re-stamped with the CURRENT config — that is the
            # exact corruption the guard exists to refuse
            raise ValueError(
                f"config marker {marker} is unreadable; refusing to "
                "guess which config built this work_dir. Restore the "
                "marker or start a fresh work_dir."
            )
        if stored != fp:
            raise ValueError(
                f"work_dir {work_dir} was built with config fingerprint "
                f"{stored}; current config is {fp}. Resuming would mix "
                "incompatible features into one index — use a fresh "
                "work_dir (or delete this one) to change config."
            )
    else:
        spark.createDataFrame(
            [(_json.dumps({"fingerprint": fp}),)], "value string"
        ).coalesce(1).write.mode("overwrite").text(marker)

    dedupe = IncrementalDeduper(
        spark, f"{work_dir}/index", f"{work_dir}/pairs", cfg,
        metrics_dir=metrics_dir, bands_dir=f"{work_dir}/bands",
        shas_dir=f"{work_dir}/shas",
    )
    stream = stream_transcripts(spark, input_dir, files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(dedupe.process_batch)
        .option("checkpointLocation", f"{work_dir}/_stream_checkpoint")
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_transcripts(
    spark: SparkSession, input_dir: str, files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of turn rows (parquet files landing in a dir).
    In production this is a Kafka/Iceberg CDC source with a watermark on
    ``ts``; the file source keeps the container test hermetic.
    files_per_trigger=1 with one file per chunk gives deterministic
    batch boundaries (the parity test's arrival schedule)."""
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(input_dir)
    )
