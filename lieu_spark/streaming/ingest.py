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

Scale shape (the O(index)-per-batch fix): the *derived* band table
(every blocking family: MinHash bands and SimHash chunks) is folded
incrementally per batch exactly like the feature table — the
reference's incremental fold updates the derived statistic, not the raw
docs (lib/lieu/spark/tfidf.py:43-45) — so no batch re-bands (sig
explodes) the index. Each micro-batch then:
  * reads only directory METADATA (one listStatus) to learn the newest
    folded batch — no full-scan ``max(batch_id)`` aggregates;
  * joins its own (small) band table against the STORED band state with
    one equi-join (the reference's ``match()``), the incoming side
    broadcast.
The stored band scan is not pruned by key. Band hashes are uniform:
one conversation's 36+ band rows touch about 28 of 64 hash buckets and
ten conversations touch all 64, so a hash-bucket layout prunes nothing
at the batch sizes the benchmark and the tests run; only a 1-2
conversation trickle batch would skip files (it reads about 45-70% of
them under 64 buckets). Every batch therefore scans the whole band
state, which grows with the stream (about 0.25 MB on disk after the
benchmark's two-batch stream-append drain). The verify-side index and
the sha fold stay pruned by key (``_pruned``).

State layer: a work_dir holds ``index/``, ``bands/`` and ``shas/`` (the
per-batch state kinds of ``_STATE``, each defined once — how it derives
from a batch's new uniques and how it is laid out on disk — for the
fold, the backfill and ``compact_state``) and ``pairs/`` (the results
log). ``IncrementalDeduper._state`` is the one loader of every kind.

Candidates come from operators/blocking.py (see it for the rep-blocking
closure argument). The stored band state carries the SimHash chunk
family, so SimHash pairs both within a micro-batch and across batches,
exactly like the MinHash bands.

Semantics note: a conversation is matchable once all its turns have
arrived in one micro-batch window here; cross-batch turn assembly is
provided by ``streaming/stateful.py`` (``applyInPandasWithState`` keyed
by conv_id with an event-time timeout) — same output contract, so the
two front doors are interchangeable. Event-time windowed aggregations
with watermarked late-data handling live in ``streaming/windows.py``.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
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


def _sha_layout(df: DataFrame) -> DataFrameWriter:
    # range-partitioned + sorted: each file covers a contiguous sha
    # range, so the cross-batch exact match's pushed In(text_sha, ...)
    # skips files/row groups. Range partitioning, not coalesce(1): a
    # large catch-up batch or an index-sized backfill must not funnel
    # its whole sort+write through one task.
    parts = max(df.sparkSession.sparkContext.defaultParallelism // 4, 1)
    return (
        df.repartitionByRange(parts, F.col("text_sha"))
        .sortWithinPartitions("text_sha")
        .write.mode("overwrite")
    )


class _Kind(NamedTuple):
    """One per-batch state kind: how its rows derive from a batch's new
    uniques (or, in a backfill, from an index batch) and the on-disk
    layout every writer of it uses — fold, backfill and compaction."""

    derive: Callable[["IncrementalDeduper", DataFrame], DataFrame]
    layout: Callable[[DataFrame], DataFrameWriter]
    # index columns a backfill derives from
    needs: tuple[str, ...] = ()


_STATE: dict[str, _Kind] = {
    # the canonical feature index, sorted by conv_id so parquet min/max
    # stats let a later batch's In(conv_id, ...) verify pushdown prune
    # row groups
    "index": _Kind(
        derive=lambda ded, feats: feats,
        layout=lambda df: df.sortWithinPartitions("conv_id").write.mode(
            "overwrite"
        ),
    ),
    # the DERIVED band table (MinHash bands and SimHash chunks, with the
    # chunk rows' simhash), so no later batch re-bands the index. Written
    # unsorted: nothing reads it by key. band_table_dual unions its
    # families, which adds up their partition counts, so the (narrow)
    # coalesce keeps at most one file per shuffle partition: 16 -> 8
    # files per batch on the stream-append drain (seed 1, 8 shuffle
    # partitions).
    # The dual-family and simhash columns are required: bands
    # backfilled from an older index would silently lack a family.
    "bands": _Kind(
        derive=lambda ded, feats: band_table_dual(feats, ded.cfg),
        layout=lambda df: df.coalesce(
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        ).write.mode("overwrite"),
        needs=("alt_sig", "char_primary", "simhash"),
    ),
    # the (conv_id, text_sha) projection the cross-batch exact match
    # reads instead of scanning the wide feature index
    "shas": _Kind(
        derive=lambda ded, feats: feats.select("conv_id", "text_sha"),
        layout=_sha_layout,
    ),
}


def _pruned(stored: DataFrame, col: str, keys: DataFrame, cap: int) -> DataFrame:
    """``stored`` restricted to the rows whose ``col`` is one of the
    batch-side ``keys``: a bounded collect (at most ``cap`` distinct
    keys) pushed into the scan as ``isin``, which row-group-prunes a
    column the kind's layout sorts. Past the cap
    the plain join stands. Parity-exact either way: a stored row whose
    key the batch side lacks cannot join."""
    got = [r[0] for r in keys.distinct().limit(cap + 1).collect()]
    if len(got) > cap:
        return stored
    return stored.filter(F.col(col).isin(got))


def _check_config_marker(
    spark: SparkSession, work_dir: str, cfg: DedupeConfig, stamp: bool = False
) -> None:
    """The work_dir's config guard (the streaming twin of
    checkpoint.StageStore's fingerprint invalidation).
    ``{work_dir}/_config_marker`` holds the fingerprint of the config
    that built the state; a different config refuses — folding, say,
    k=7 shingle features into a k=5 index (or backfilling bands with
    them) would silently corrupt every later match. A missing marker is
    stamped with ``cfg`` when ``stamp`` (a stream's first run)."""
    import json as _json

    # marker I/O goes through Spark's Hadoop filesystem (a one-line text
    # "directory file"), NOT driver-local open(): a work_dir on
    # hdfs:// or s3:// must hit the same store as the state it guards —
    # a local-path marker would silently no-op the guard for remote dirs
    marker = f"{work_dir}/_config_marker"
    fp = cfg.fingerprint()
    if not _path_exists(spark, marker):
        if stamp:
            spark.createDataFrame(
                [(_json.dumps({"fingerprint": fp}),)], "value string"
            ).coalesce(1).write.mode("overwrite").text(marker)
        return
    lines = [r.value for r in spark.read.text(marker).collect()]
    try:
        stored = _json.loads("".join(lines))["fingerprint"]
    except (ValueError, KeyError):
        # a corrupt marker next to existing state must NOT be silently
        # re-stamped with the CURRENT config — that is the exact
        # corruption the guard exists to refuse
        raise ValueError(
            f"config marker {marker} is unreadable; refusing to guess "
            "which config built this work_dir. Restore the marker or "
            "start a fresh work_dir."
        )
    if stored != fp:
        raise ValueError(
            f"work_dir {work_dir} was built with config fingerprint "
            f"{stored}; the given config is {fp}. Mixing them would "
            "corrupt the index — use a fresh work_dir (or delete this "
            "one) to change config."
        )


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


def compact_state(
    spark: SparkSession,
    work_dir: str,
    keep_last: int = 1,
    cfg: DedupeConfig | None = None,
) -> dict:
    """Merge all but the newest ``keep_last`` batch subdirectories of
    each state kind into ONE subdir each (labeled with the highest
    merged batch id, so every `batch_id < N` read is unchanged).

    Why: per-batch subdirs are the idempotence unit, but a long-lived
    stream accumulates one per micro-batch — at 10^5 batches the
    listStatus and partition discovery that make per-batch reads cheap
    become the bottleneck themselves. Periodic compaction keeps the
    subdir count O(1) while preserving exact semantics: the merged data
    is the union of the merged subdirs (row-identical, written in the
    kind's one layout), and the newest ``keep_last`` batches stay
    un-merged because only the newest batch can be replayed by the
    at-least-once checkpoint. Crash-safe: data lands in a tmp dir
    first, the manifest is the commit point, and readers auto-heal a
    half-finished swap (_finish_compaction). Pairs subdirs are NOT
    compacted — they are a results log with per-batch provenance, not
    matcher state.

    Run this with the stream STOPPED (the --compact CLI flag runs it
    after an availableNow drain): crash-recovery covers a compactor
    that dies, but a reader that lists the state dir in the window
    between the swap's deletes and its rename would see a partial
    union — single-writer-at-a-time is the contract, same as every
    non-transactional parquet layout (an Iceberg-backed deployment
    gets this atomicity from the table format instead).

    Holes first: any index batch missing its band/sha subdir is
    backfilled (``IncrementalDeduper._state``) BEFORE merging — merging
    around a hole would bake it into state permanently, because
    afterwards the per-kind batch ids line up again and the backfill can
    never detect the missing rows (silent recall loss for every doc in
    the lost subdir). Sha backfill is a pure projection; band backfill
    derives bands and therefore needs the stream's ``cfg`` — required
    only when a band hole actually exists, and checked against the
    work_dir's config marker so a wrong config can't corrupt the
    store."""
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
    ded = IncrementalDeduper(spark, work_dir, cfg or DEFAULT_CONFIG)
    for kind in _STATE:
        _finish_compaction(spark, ded._dir(kind))
    index_ids = _batch_subdir_ids(spark, ded._dir("index")) or []
    if index_ids:
        after_newest = max(index_ids) + 1
        # sha backfill: exact projection of the index, config-free
        ded._state("shas", before_batch=after_newest)
        band_holes = set(index_ids) - set(
            _batch_subdir_ids(spark, ded._dir("bands")) or []
        )
        if band_holes:
            if cfg is None:
                raise ValueError(
                    f"band state at {ded._dir('bands')} is missing subdirs "
                    f"for index batches {sorted(band_holes)}; backfilling "
                    "them derives bands and needs the stream's "
                    "DedupeConfig — pass cfg= (merging around the hole "
                    "would bake it in)"
                )
            _check_config_marker(spark, work_dir, cfg)
            ded._state("bands", before_batch=after_newest)
    for kind, spec in _STATE.items():
        state_dir = ded._dir(kind)
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
        if kind == "index":
            # the merged index is also clustered by conv_id, so the
            # verify-side In(conv_id, ...) pushdown prunes even better
            # than against the raw per-batch folds
            df = df.repartition(
                max(spark.sparkContext.defaultParallelism, 1), F.col("conv_id")
            )
        tmp = f"{state_dir}/{COMPACT_TMP}"
        if _path_exists(spark, tmp):
            fs.delete(jvm_path(tmp), True)
        spec.layout(df).parquet(tmp)
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
    state kinds) into the per-batch state under ``work_dir``."""

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        cfg: DedupeConfig = DEFAULT_CONFIG,
        metrics_dir: str | None = None,
        run_id: str = "stream",
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
        self.work_dir = work_dir
        self.cfg = cfg
        self.metrics_dir = metrics_dir
        self.run_id = run_id

    def _dir(self, kind: str) -> str:
        """Directory of a state kind (or of ``pairs``)."""
        return f"{self.work_dir}/{kind}"

    def _refuse_restarted_batch_ids(self, batch_id: int) -> None:
        """A batch id NEWER than the one being processed in the index or
        pairs dir means the stream checkpoint was lost or re-pointed —
        batch ids restarted — and proceeding would OVERWRITE old state
        subdir by subdir. Both dirs are consulted, from directory
        metadata: a batch always writes its pairs subdir, so pairs
        covers the zero-new-uniques case."""
        ids = [
            i
            for d in ("index", "pairs")
            for i in _batch_subdir_ids(self.spark, self._dir(d)) or []
        ]
        if ids and max(ids) > batch_id:
            raise ValueError(
                f"stream state at {self.work_dir} already contains "
                f"batch {max(ids)} but the stream is processing batch "
                f"{batch_id} — the streaming checkpoint was lost or "
                "re-pointed and batch ids restarted. Proceeding would "
                "overwrite existing state; restore the original "
                "checkpoint or start a fresh work_dir."
            )

    def _state(self, kind: str, before_batch: int) -> DataFrame | None:
        """State of one kind as of the start of ``before_batch``: the
        union of its batch subdirectories with batch_id < before_batch
        (None before the first index fold).

        Per-batch subdirs + the strict < filter make replays
        deterministic: if a batch partially wrote its own subdir before
        a failure, the rerun neither matches the batch against its own
        half-written output nor double-counts it — the replay sees
        exactly the pre-batch state and OVERWRITES its own subdir.

        Before the read, a half-finished compaction swap of the kind is
        completed (the tmp dir holds the full merged data, see
        _finish_compaction), and any index batch missing its subdir of a
        derived kind (manual state surgery, a crash between the index
        write and the other folds of a batch that was then never
        replayed) is backfilled from the index — derivation is
        deterministic, so backfill reproduces exactly what the fold
        would have written. An index batch lacking the columns the kind
        derives from (``_Kind.needs``) was written by an older schema
        and is refused loudly instead (such state is already
        unresumable — the config fingerprint changed — and must be
        rebuilt by replaying the landing directory)."""
        _finish_compaction(self.spark, self._dir(kind))
        index_dir = self._dir("index")
        prior = [
            i
            for i in _batch_subdir_ids(self.spark, index_dir) or []
            if i < before_batch
        ]
        if kind != "index":
            have = set(_batch_subdir_ids(self.spark, self._dir(kind)) or [])
            for i in sorted(set(prior) - have):
                feats = self.spark.read.parquet(f"{index_dir}/batch_id={i}")
                missing = set(_STATE[kind].needs) - set(feats.columns)
                if missing:
                    raise ValueError(
                        f"index batch {i} at {index_dir} lacks the feature "
                        f"columns {sorted(missing)} its {kind} derive from "
                        "— it was written by an older-schema build and "
                        "cannot be backfilled safely. Rebuild the stream "
                        "state in a fresh work_dir (replaying the landing "
                        "directory reproduces it)."
                    )
                self._fold(kind, feats, i)
        if not prior:
            return None
        return (
            self.spark.read.parquet(self._dir(kind))
            .filter(F.col("batch_id") < before_batch)
            .drop("batch_id")
        )

    def _fold(self, kind: str, feats: DataFrame, batch_id: int) -> None:
        """Write one state kind's rows of a batch to the batch's own
        subdir, in the kind's layout (mode=overwrite: a replay replaces
        its own output)."""
        spec = _STATE[kind]
        spec.layout(spec.derive(self, feats)).parquet(
            f"{self._dir(kind)}/batch_id={batch_id}"
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Candidates (operators/blocking.py) = within-batch self-pairs
        (``within_candidates``: the batch pipeline's families, so a
        batch's OWN near-dups pair here) ∪ incoming-vs-index pairs
        (``cross_candidates``: band match — MinHash and SimHash families
        — against the STORED band state ∪ text_sha equi-join against the
        stored sha fold — the sha join makes the pipeline's GLOBAL exact
        star hold across batches). Dupe members (the id_b side — min-id
        canonical stays) are withheld from the index fold, so connected
        components over the accumulated pairs reproduces the batch
        pipeline's clusters (parity asserted in tests/test_streaming.py).

        The vs-index match joins the batch's bands (broadcast — a
        micro-batch is small) against the whole stored, pre-derived band
        state: no sig explode over the index, no shuffle of the stored
        side. The verify-side feature fetch is bounded to the candidate
        ids (a pushed In(conv_id,...) predicate that row-group-prunes the
        wide columns against the sorted fold). The cross-batch exact
        match reads a dedicated sha-sorted (conv_id, text_sha) fold
        pruned to the batch's own shas (``_pruned``).

        Exactly-once state under at-least-once foreachBatch: pairs and
        the state folds are written to per-batch
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
        # persisted: three consumers — the within-batch band self-join
        # and the cross join's two uses in lsh.capped_group_join
        feat_bands = band_table_dual(feat_reps, self.cfg).persist()
        within = blocking.within_candidates(
            feat_bands, feats, self.cfg
        ).select("id_a", "id_b")
        self._refuse_restarted_batch_ids(batch_id)
        index = self._state("index", before_batch=batch_id)
        if index is not None:
            stored_bands = self._state("bands", before_batch=batch_id)
            stored_shas = _pruned(
                self._state("shas", before_batch=batch_id),
                "text_sha",
                feats.select("text_sha"),
                VERIFY_ID_CAP,
            )
            cross = blocking.cross_candidates(
                stored_bands,
                stored_shas,
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
            all_feats = _pruned(
                index, "conv_id", cand.select("id_a"), VERIFY_ID_CAP
            ).unionByName(feats)
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
            f"{self._dir('pairs')}/batch_id={batch_id}"
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
        # S8 parity: fold this batch's uniques into every state kind —
        # the canonical index and its DERIVED band and sha tables, so no
        # later batch ever re-bands or re-scans the index (_STATE).
        # The three fold writes are INDEPENDENT jobs over the persisted
        # new_uniques (different output dirs, no cross-reads), so they
        # run from a small thread pool — the scheduler back-fills the
        # tail of one write with the next one's tasks (guide-standard
        # overlap of independent actions) instead of paying three full
        # job latencies in sequence. Failure semantics unchanged: any
        # write raising propagates out of process_batch and the batch
        # replays (per-batch overwrite idempotence).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(_STATE)) as pool:
            futs = [
                pool.submit(self._fold, kind, new_uniques, batch_id)
                for kind in _STATE
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

    The first run stamps the work_dir's config marker with the config
    fingerprint; a rerun with a different config refuses to resume
    (_check_config_marker). Start a fresh work_dir (or delete the old
    one) to change config."""
    _check_config_marker(spark, work_dir, cfg, stamp=True)
    dedupe = IncrementalDeduper(spark, work_dir, cfg, metrics_dir=metrics_dir)
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
