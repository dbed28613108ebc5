"""Streaming maintenance of the dedup shingle/LSH store.

The batch store is already incremental (``append_to_shingle_artifact``:
per-doc tables append, ``df`` sum-merges, ``kept`` is merge-on-read) —
this module wires that maintenance into Structured Streaming's
``foreachBatch`` so near-duplicate suppression works ACROSS
micro-batches, not just within the watermark horizon
(``dedup_within_watermark``). This is the production shape of the
reference dashboard's read-time drop_duplicates
(streamlit_app.py:147): the crawl streams in, the persisted LSH index
advances with each micro-batch, and any consumer (the pair queries,
``incremental_near_dup``-style probes) reads the current generation.

Layout under ``store_root``:

- ``gen_init``  — the empty bootstrap store (full-build pipeline over a
  zero-row corpus, so every table exists with its real schema);
- ``gen{N}``    — the complete store after micro-batch N folded in
  (``append_to_shingle_artifact(base=current, delta=batch)``); per-doc
  table files are HARD-LINKED from the previous generation, so a
  generation costs O(delta) bytes, not O(corpus);
- ``_CURRENT``  — sidecar naming the newest complete generation
  (atomic tmp+rename). Readers resolve through ``current_store_path``.

Exactly-once effect under foreachBatch's at-least-once contract: a
generation directory is only visible after the store build's own
atomic tmp->rename (its ``_DONE`` marker is written before the
rename), so a replayed batch finds its completed ``gen{N}`` and only
repoints the sidecar — the append itself is never re-applied. Batches
arrive sequentially, so the current pointer always names
``gen{max committed batch}`` and the next batch folds onto it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

_DOCS_SCHEMA = "doc_id BIGINT, text STRING"


def init_empty_shingle_store(spark: SparkSession, path: str) -> str:
    """Bootstrap a ZERO-document store at ``path`` by running the exact
    full-build table pipeline over an empty (doc_id, text) relation —
    every table (arrays/hashes/df/stop/kept/bands/simsig/simsig64/meta)
    exists with the schema the append path expects, so micro-batch 0 is
    an ordinary append, not a special case."""
    import shutil

    from ..plans.dedup_queries import _build_empty_artifact_tables

    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        # r13: schema-derived empty tables in one concurrent write wave
        # (the full build pipeline over zero rows cost ~3 s of fixed
        # job overhead per bootstrap; see _build_empty_artifact_tables)
        os.makedirs(tmp)
        _build_empty_artifact_tables(spark, tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    open(os.path.join(tmp, "_DONE"), "w").close()
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, "_DONE")):
            raise
    return path


def _write_current(store_root: str, gen_name: str) -> None:
    tmp = os.path.join(store_root, f"_CURRENT.tmp{os.getpid()}")
    with open(tmp, "w") as fh:
        fh.write(gen_name)
    os.replace(tmp, os.path.join(store_root, "_CURRENT"))


def current_store_path(store_root: str) -> str:
    """Path of the newest complete store generation."""
    try:
        with open(os.path.join(store_root, "_CURRENT")) as fh:
            return os.path.join(store_root, fh.read().strip())
    except OSError:
        return os.path.join(store_root, "gen_init")


def _gen_number(name: str) -> int:
    return int(name[3:]) if name.startswith("gen") and name[3:].isdigit() else -1


def gc_generations(store_root: str, keep_last: int = 2) -> list[str]:
    """Keep-last-K generation GC (r10 verdict #3): delete ``gen{N}``
    directories older than the newest ``keep_last`` at-or-below the
    ``_CURRENT`` pointer. Never touched: ``gen_init`` (the _CURRENT
    fallback), the current generation itself, and any generation NEWER
    than current (an append that committed before a crash repointed —
    its replay must find the completed dir and only repoint).

    Why this cannot break exactly-once replay: Structured Streaming
    commits a batch's offsets only AFTER foreachBatch returns, so the
    only replayable batch is the newest one — whose generation is by
    construction current or newer, both protected. Even if a replayed
    batch's generation WERE missing, the fold is regenerative, not
    mutative: it rebuilds the same generation from the current base
    plus the replayed batch (append never modifies its base), so the
    worst case is re-paid delta CPU, never a wrong store. Old
    generations hard-link shared files, so deletion frees only bytes
    no newer generation references. Returns the deleted names."""
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    cur_n = _gen_number(os.path.basename(current_store_path(store_root)))
    gens = sorted(
        g
        for g in (
            _gen_number(e)
            for e in os.listdir(store_root)
            if e.startswith("gen") and e[3:].isdigit()
        )
        if g >= 0
    )
    committed = [g for g in gens if g <= cur_n]
    keep = set(g for g in gens if g > cur_n) | set(committed[-keep_last:])
    removed = []
    for g in gens:
        if g not in keep:
            shutil.rmtree(os.path.join(store_root, f"gen{g}"), ignore_errors=True)
            removed.append(f"gen{g}")
    return removed


_PER_DOC_TABLES = ("arrays", "hashes", "bands", "simsig", "simsig64")


def compact_store(spark: SparkSession, src_path: str, dst_path: str) -> str:
    """Full-rewrite compaction fold (r10 verdict #3): rewrite a store
    generation's LOGICAL content into fresh flat files — per-doc
    tables coalesced from their accumulated per-batch appended files
    into session-width files, ``kept_over`` override generations
    folded into a flat ``kept`` base. A long crawl's thousands of
    O(delta) appends otherwise accumulate unbounded FILE COUNT (every
    fold adds small parquet files per table) even though bytes are
    hard-link-shared; the periodic compaction resets that, and — since
    a compacted generation shares no links with its predecessors —
    lets the keep-last-K GC reclaim the full byte history behind it.
    Same atomic tmp+rename discipline as the builds; ``src_path`` may
    equal ``dst_path`` (in-place swap via the tmp dir).

    Refuses a store with unmerged deferred side tables (``df_delta``/
    ``pending``) — compaction writes a fixed table list and would
    silently drop the backlog; merge first (``merge_backlog``)."""
    import shutil

    from ..plans.dedup_queries import has_unmerged_deltas, resolve_kept

    if has_unmerged_deltas(src_path):
        raise ValueError(
            f"store at {src_path} has unmerged df_delta/pending side "
            "tables; run a merging fold (merge_backlog / a non-deferred "
            "append) before compacting"
        )

    width = spark.sparkContext.defaultParallelism
    tmp = f"{dst_path}.compact{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        for name in _PER_DOC_TABLES + ("df", "stop"):
            (
                spark.read.parquet(os.path.join(src_path, name))
                .repartition(width)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, name))
            )
        (
            resolve_kept(spark, src_path)
            .repartition(width)
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "kept"))
        )
        (
            spark.read.parquet(os.path.join(src_path, "meta"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "meta"))
        )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(dst_path, ignore_errors=True)
    os.rename(tmp, dst_path)
    return dst_path


def _empty_docs(spark: SparkSession) -> DataFrame:
    return spark.range(0).select(
        F.col("id").alias("doc_id"), F.lit("").alias("text")
    )


def merge_backlog(spark: SparkSession, src_path: str, dst_path: str) -> str:
    """Fold a store's deferred ``df_delta``/``pending`` backlog into
    df/stop/kept/meta (an empty-delta NON-deferred append — the merge
    machinery is ``append_to_shingle_artifact``'s heavy path, shared
    with the batch API). Output carries no side tables. ``src_path``
    must not equal ``dst_path`` (the append reads base while writing
    tmp; callers in-place-swap afterwards)."""
    from ..plans.dedup_queries import append_to_shingle_artifact

    return append_to_shingle_artifact(
        spark,
        src_path,
        _empty_docs(spark),
        dst_path,
        defer_merge=False,
        # declared-empty delta (r13): skips the ~7 per-delta Spark jobs
        # the old path ran over zero rows on every backlog merge
        assume_empty_delta=True,
    )


_PER_DOC_LISTING = "_SRC_LISTING.json"
_SRC_GEN_FILE = "_SRC_GEN"
_BASE_MARKER = "_BASE"


def _snapshot_listing(gen_path: str) -> dict:
    """Graft diff base for a generation: per-doc table file names
    (files appended by LATER generations are exactly those absent —
    per-doc tables are append-only; names are unique task UUIDs) plus
    the side-table generation numbers this snapshot carries. The side
    sets are recorded EXPLICITLY because side-gen numbering is an
    independent counter, not the store generation number — a
    numeric-threshold filter would re-link already-merged side gens
    (double-counting their docs)."""
    out = {}
    for name in _PER_DOC_TABLES:
        d = os.path.join(gen_path, name)
        out[name] = sorted(os.listdir(d)) if os.path.isdir(d) else []
    from ..plans.dedup_queries import _side_gen_numbers

    out["__merged_side_gens__"] = {
        name: _side_gen_numbers(gen_path, name)
        for name in ("df_delta", "pending")
    }
    return out


def _graft_base(base_dir: str, cur_gen: str, out_dir: str) -> None:
    """Hard-link REBASE: combine a background-refreshed base (merged +
    compacted as of source generation R) with everything the stream
    appended after R — per-doc files absent from the base's source
    listing, and side-table generations numbered > R. Pure file
    linking, no Spark jobs: this is why absorption is cheap enough for
    the hot path. Idempotent on file names (existing names are
    skipped), so a replayed graft cannot corrupt."""
    import json
    import shutil

    with open(os.path.join(base_dir, _PER_DOC_LISTING)) as fh:
        listing = json.load(fh)
    merged_side = listing.get("__merged_side_gens__", {})
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name in ("df", "stop", "kept", "kept_over", "meta"):
        src = os.path.join(base_dir, name)
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(out_dir, name), copy_function=os.link)
    for name in _PER_DOC_TABLES:
        src = os.path.join(base_dir, name)
        dst = os.path.join(out_dir, name)
        shutil.copytree(src, dst, copy_function=os.link)
        known = set(listing.get(name, ()))
        cur_table = os.path.join(cur_gen, name)
        if os.path.isdir(cur_table):
            for f in os.listdir(cur_table):
                if f in known or f.startswith("_"):
                    continue
                dst_f = os.path.join(dst, f)
                if not os.path.exists(dst_f):
                    os.link(os.path.join(cur_table, f), dst_f)
    for name in ("df_delta", "pending"):
        src_root = os.path.join(cur_gen, name)
        if not os.path.isdir(src_root):
            continue
        merged = set(merged_side.get(name, ()))
        for e in os.listdir(src_root):
            if not e.startswith("gen="):
                continue
            if int(e.split("=", 1)[1]) not in merged:
                shutil.copytree(
                    os.path.join(src_root, e),
                    os.path.join(out_dir, name, e),
                    copy_function=os.link,
                )


def _newest_maint_base(store_root: str) -> str | None:
    """Path of the newest COMPLETE published maintenance base under
    ``store_root/maint``, or None."""
    root = os.path.join(store_root, "maint")
    if not os.path.isdir(root):
        return None
    best, best_n = None, -1
    for e in os.listdir(root):
        if not e.startswith("base"):
            continue
        p = os.path.join(root, e)
        if not os.path.exists(os.path.join(p, "_DONE")):
            continue
        n = _gen_number(e.replace("base", "gen", 1))
        if n > best_n:
            best, best_n = p, n
    return best


def _absorbed_base(gen_path: str) -> str:
    """Name of the maintenance base this generation's lineage already
    absorbed ('' if none) — the ``_BASE`` marker, written by every
    fold so the lineage fact survives generation chaining."""
    marker = os.path.join(gen_path, _BASE_MARKER)
    try:
        with open(marker) as fh:
            return fh.read().strip()
    except OSError:
        return ""


class _Maintenance:
    """Off-hot-path store maintenance (r11 verdict #5): a single worker
    thread snapshots a committed generation (hard links — the
    generation itself may be GC'd meanwhile), merges its deferred
    backlog and compacts it flat, then publishes the result atomically
    under ``maint/base{N}``. Light folds absorb the newest published
    base by grafting (``_graft_base``) — the foreachBatch critical
    path never pays merge or compaction CPU.

    Crash/exactly-once posture: the worker only reads an immutable
    snapshot and publishes via tmp+rename; a dead worker loses nothing
    (the store stays merge-on-read and the next cadence retries); an
    absorbed base changes WHERE a generation's bytes come from, never
    what its logical content is — the fold stays regenerative."""

    def __init__(self, store_root: str) -> None:
        from concurrent.futures import ThreadPoolExecutor

        self._root = os.path.join(store_root, "maint")
        self._pool = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="dedup-maint"
        )
        self._future = None

    def maybe_schedule(self, spark: SparkSession, gen_path: str) -> bool:
        """Start a refresh of ``gen_path`` unless one is in flight, or
        ``gen_path``'s lineage has NOT yet absorbed the newest
        published base. The absorption precondition is load-bearing:
        it guarantees every snapshot's per-doc file set is a superset
        of the newest base's source listing, so a later graft's file
        diff can never re-link a previous base's compacted files
        (which would duplicate every pre-base row).

        The hard-link snapshot of ``gen_path`` is taken HERE, on the
        caller's thread, before submitting: a delayed worker could
        otherwise race ``gc_generations`` (small keep_last) deleting the
        generation out from under its copytree. A finished worker's
        exception is surfaced (logged) on the next schedule attempt —
        a failed refresh is harmless (the store stays merge-on-read),
        but it must not fail silently forever."""
        import logging
        import shutil

        if self._future is not None:
            if not self._future.done():
                return False
            exc = self._future.exception()
            if exc is not None:
                logging.getLogger(__name__).warning(
                    "dedup-index maintenance refresh failed "
                    "(store stays merge-on-read): %r",
                    exc,
                )
        nb = _newest_maint_base(os.path.dirname(self._root))
        if nb is not None and _absorbed_base(gen_path) != os.path.basename(nb):
            return False
        n = _gen_number(os.path.basename(gen_path))
        snap = os.path.join(self._root, f"src{n}")
        os.makedirs(self._root, exist_ok=True)
        shutil.rmtree(snap, ignore_errors=True)
        shutil.copytree(gen_path, snap, copy_function=os.link)
        self._future = self._pool.submit(self._run, spark, snap, n)
        return True

    def wait(self, timeout: float | None = None) -> None:
        if self._future is not None:
            self._future.result(timeout)

    def _run(self, spark: SparkSession, snap: str, n: int) -> str:
        import json
        import shutil

        # detach from the streaming batch's job group: the worker
        # thread inherits the foreachBatch thread's group, and a
        # query.stop() would otherwise cancel an in-flight maintenance
        # job along with the stream's own work
        try:
            spark.sparkContext.setJobGroup(
                "dedup-index-maintenance", "background store refresh"
            )
        except Exception:
            pass
        os.makedirs(self._root, exist_ok=True)
        work = os.path.join(self._root, f"base{n}.work")
        final = os.path.join(self._root, f"base{n}")
        shutil.rmtree(work, ignore_errors=True)
        try:
            # snap was hard-linked by maybe_schedule on the caller's
            # thread (immune to generation GC from later batches)
            listing = _snapshot_listing(snap)
            merge_backlog(spark, snap, work)
            compact_store(spark, work, work)
            with open(os.path.join(work, _PER_DOC_LISTING), "w") as fh:
                json.dump(listing, fh)
            with open(os.path.join(work, _SRC_GEN_FILE), "w") as fh:
                fh.write(str(n))
            # compact_store already wrote _DONE into work
            shutil.rmtree(final, ignore_errors=True)
            os.rename(work, final)
        finally:
            shutil.rmtree(snap, ignore_errors=True)
            shutil.rmtree(work, ignore_errors=True)
        # prune superseded bases, KEEPING the newest two: a fold may be
        # mid-graft on the just-superseded base; publishes are a full
        # maintenance cadence apart while grafts are milliseconds of
        # linking, so two generations of slack is enough
        done = sorted(
            (
                e
                for e in os.listdir(self._root)
                if e.startswith("base")
                and os.path.exists(os.path.join(self._root, e, "_DONE"))
            ),
            key=lambda e: _gen_number(e.replace("base", "gen", 1)),
        )
        for e in done[:-2]:
            shutil.rmtree(os.path.join(self._root, e), ignore_errors=True)
        return final


# store_root -> live _Maintenance, so callers that only hold the
# StreamingQuery (not the fanout closure) can quiesce the worker
# before tearing the store down — stopping the query does NOT stop an
# in-flight background refresh
_MAINTENANCE_REGISTRY: dict[str, "_Maintenance"] = {}


def wait_maintenance(store_root: str, timeout: float | None = None) -> None:
    """Block until the background maintenance job for ``store_root``
    (if any) finishes. Call before deleting a store that ran with
    ``async_maintenance`` — a worker mid-merge holds open reads on its
    snapshot. Exceptions from the job propagate (a failed refresh is
    harmless to the store, but the caller should know)."""
    m = _MAINTENANCE_REGISTRY.get(os.path.abspath(store_root))
    if m is not None:
        m.wait(timeout)


def dedup_index_fanout(
    store_root: str,
    *,
    gc_keep_last: int | None = None,
    compact_every: int | None = None,
    merge_every: int | None = None,
    async_maintenance: bool = False,
):
    """foreachBatch callable: fold each micro-batch of (doc_id, text)
    documents into the store as one new generation. Module-level so
    tests can drive the replay/idempotency path with a static batch.

    - ``gc_keep_last``: keep-last-K generation GC after each repoint.
    - ``compact_every``: rewrite every C-th generation flat (see
      ``compact_store``) before repointing.
    - ``merge_every=None`` (default): every fold is a full merging
      append — the pre-r12 behavior.
    - ``merge_every=K`` (r11 verdict #4): folds are DEFERRED (pure
      O(delta): per-doc appends + df_delta/pending side gens; the
      probe path's bands/arrays stay fresh) and every K-th batch runs
      the merging fold, amortizing the df/stop/kept derivation across
      K batches. ``finalize_dedup_index`` brings a drained store fully
      current.
    - ``async_maintenance=True`` (r11 verdict #5, requires
      ``merge_every``): ALL folds stay light; every K-th batch instead
      SCHEDULES a background refresh (merge+compact on a snapshot,
      ``_Maintenance``), and later light folds absorb the published
      base by hard-link grafting — merge/compaction CPU leaves the
      foreachBatch critical path entirely. ``compact_every`` is
      subsumed (the background refresh compacts).

    Crash anywhere in the fold/merge/compact/repoint chain replays
    into the same regenerative path."""
    import shutil

    from ..plans.dedup_queries import append_to_shingle_artifact

    if async_maintenance and not merge_every:
        raise ValueError("async_maintenance requires merge_every")
    maint = _Maintenance(store_root) if async_maintenance else None
    if maint is not None:
        _MAINTENANCE_REGISTRY[os.path.abspath(store_root)] = maint

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        gen_name = f"gen{batch_id}"
        gen_path = os.path.join(store_root, gen_name)
        if not os.path.exists(os.path.join(gen_path, "_DONE")):
            base = current_store_path(store_root)
            merge_now = bool(
                merge_every
                and not async_maintenance
                and batch_id > 0
                and batch_id % merge_every == 0
            )
            defer = bool(merge_every) and not merge_now
            graft_tmp, lineage_base = None, _absorbed_base(base)
            if maint is not None:
                nb = _newest_maint_base(store_root)
                if nb is not None and os.path.basename(nb) != lineage_base:
                    # rebase onto the background-refreshed store: pure
                    # hard-link grafting, no Spark jobs. Failure (e.g.
                    # the base was pruned mid-read) falls back to the
                    # ungrafted base — absorption is an optimization,
                    # never a correctness dependency.
                    graft_tmp = f"{gen_path}.rebase{os.getpid()}"
                    try:
                        _graft_base(nb, base, graft_tmp)
                        base = graft_tmp
                        lineage_base = os.path.basename(nb)
                    except (OSError, ValueError):
                        # ValueError covers json.JSONDecodeError from a
                        # corrupt/truncated _SRC_LISTING.json — same
                        # posture: absorption is an optimization only
                        shutil.rmtree(graft_tmp, ignore_errors=True)
                        graft_tmp = None
            append_to_shingle_artifact(
                spark,
                base,
                batch_df.select("doc_id", "text"),
                gen_path,
                defer_merge=defer,
            )
            if lineage_base:
                # the marker records which base this lineage absorbed;
                # written on EVERY fold (the append's tmp dir does not
                # carry sidecars forward)
                with open(os.path.join(gen_path, _BASE_MARKER), "w") as fh:
                    fh.write(lineage_base)
            if graft_tmp is not None:
                shutil.rmtree(graft_tmp, ignore_errors=True)
            if compact_every and not async_maintenance and batch_id > 0 and not defer:
                if merge_every:
                    # compaction may only run on merged generations, and
                    # compact_every need not divide by merge_every: fire
                    # on the FIRST merge batch at/after each
                    # compact_every boundary (deterministic under
                    # replay — pure batch_id arithmetic, no counters)
                    due = (batch_id // compact_every) > (
                        (batch_id - merge_every) // compact_every
                    )
                else:
                    due = batch_id % compact_every == 0
                if due:
                    compact_store(spark, gen_path, gen_path)
        # repoint (also the replayed-batch path: the append committed
        # but the sidecar update was lost with the crash)
        cur = os.path.basename(current_store_path(store_root))
        cur_n = _gen_number(cur)
        if batch_id > cur_n:
            _write_current(store_root, gen_name)
        if (
            maint is not None
            and merge_every
            and batch_id > 0
            and batch_id % merge_every == 0
        ):
            maint.maybe_schedule(spark, os.path.join(store_root, gen_name))
        if gc_keep_last:
            gc_generations(store_root, keep_last=gc_keep_last)

    process_batch.maintenance = maint
    return process_batch


def finalize_dedup_index(
    spark: SparkSession, store_root: str, compact: bool = False
) -> str:
    """Bring a drained deferred-mode store fully current: absorb the
    newest background-published base if one exists (link graft), merge
    any remaining df_delta/pending backlog into df/stop/kept/meta, and
    swap the result in as the current generation (same in-place
    discipline as the mid-stream compaction). No-op on a store with no
    backlog (beyond an O(1) check). Returns the current store path."""
    import shutil

    from ..plans.dedup_queries import has_unmerged_deltas

    cur = current_store_path(store_root)
    nb = _newest_maint_base(store_root)
    unabsorbed = nb is not None and os.path.basename(nb) != _absorbed_base(cur)
    if not has_unmerged_deltas(cur) and not unabsorbed:
        return cur
    src = cur
    graft_tmp = None
    if unabsorbed:
        graft_tmp = f"{cur}.rebase{os.getpid()}"
        _graft_base(nb, cur, graft_tmp)
        src = graft_tmp
    final_tmp = f"{cur}.final{os.getpid()}"
    try:
        if has_unmerged_deltas(src):
            merge_backlog(spark, src, final_tmp)
        else:
            shutil.rmtree(final_tmp, ignore_errors=True)
            shutil.copytree(src, final_tmp, copy_function=os.link)
        if compact:
            compact_store(spark, final_tmp, final_tmp)
        shutil.rmtree(cur)
        os.rename(final_tmp, cur)
    finally:
        if graft_tmp is not None:
            shutil.rmtree(graft_tmp, ignore_errors=True)
        shutil.rmtree(final_tmp, ignore_errors=True)
    return cur


def start_dedup_index_stream(
    spark: SparkSession,
    input_dir: str,
    store_root: str,
    checkpoint_dir: str,
    *,
    available_now: bool = False,
    trigger_seconds: int = 10,
    max_files_per_trigger: int | None = None,
    gc_keep_last: int | None = None,
    compact_every: int | None = None,
    merge_every: int | None = None,
    async_maintenance: bool = False,
) -> StreamingQuery:
    """File-source stream of (doc_id, text) parquet -> per-micro-batch
    shingle/LSH store maintenance. ``available_now=True`` drains all
    pending files and stops (the deterministic test/backfill mode);
    ``max_files_per_trigger`` bounds batch size — the knob that keeps
    per-generation append cost (delta tokenize + df merge + kept
    override) flat as the backlog grows. ``gc_keep_last`` /
    ``compact_every`` bound generation-history growth over a long
    crawl (r10 verdict #3): keep-last-K directory GC after each
    commit, and a flat full-rewrite of every C-th generation so file
    count and link-shared byte history stay bounded. ``merge_every``
    (r11 #4) defers df/stop/kept maintenance off the per-batch path to
    every K-th fold; ``async_maintenance`` (r11 #5) moves that merged
    refresh to a background worker entirely (see
    ``dedup_index_fanout``); after an ``available_now`` drain in
    either deferred mode, call ``finalize_dedup_index`` to bring
    df/stop/kept/meta fully current."""
    os.makedirs(store_root, exist_ok=True)
    init_empty_shingle_store(spark, os.path.join(store_root, "gen_init"))
    reader = spark.readStream.schema(_DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_dir)
    writer = (
        docs.writeStream.foreachBatch(
            dedup_index_fanout(
                store_root,
                gc_keep_last=gc_keep_last,
                compact_every=compact_every,
                merge_every=merge_every,
                async_maintenance=async_maintenance,
            )
        )
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
