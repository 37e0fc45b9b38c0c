"""Incremental ("delta") processing and checkpoints.

Parity: /root/reference/src/datachain/delta.py:100-391 and the checkpoint
store (/root/reference/src/datachain/checkpoint.py:6-43,
lib/dc/datachain.py:696-722). The reference's incremental story is diff-based
batch re-runs (NOT streaming): on save, diff the current source version
against the version used by the previous run, re-apply the chain's steps to
just the changed rows, and merge with the previous result.

Our engine keeps the same semantics over metastore versions:

    result_vN = process(changed_rows) UNION (result_vN-1 MINUS rows whose
                delta_on keys changed or disappeared)

``process`` is a user callable DataChain -> DataChain (the "steps" — since
the DataFrame is the plan, re-application is just calling it on the diff).

Checkpoints: a fingerprint of (source version uuid, process function
bytecode) is stored on each saved version; an unchanged fingerprint skips the
whole run (parity with step-hash checkpoint reuse, hash_utils.py:32-120).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from typing import Callable, Optional, Sequence, Union

from pyspark.sql import functions as F

from .chain import DataChain
from .session import Session


class SchemaDriftError(RuntimeError):
    """Parity: delta.py schema drift detection — the re-applied steps must
    produce the previous result's schema."""


def fingerprint_fn(fn: Callable, extra: str = "") -> str:
    """Stable fingerprint of a processing function: code object bytes +
    constants (parity: callable hashing, hash_utils.py:79)."""
    h = hashlib.sha256()
    code = getattr(fn, "__code__", None)
    if code is not None:
        h.update(code.co_code)
        h.update(repr(code.co_consts).encode())
        h.update(repr(code.co_names).encode())
    else:
        h.update(repr(fn).encode())
    h.update(extra.encode())
    return h.hexdigest()[:32]


#: deepest ``extends_version`` chain a by-reference save may extend; the
#: run that reaches it rewrites the dataset into a self-contained version
MAX_CHAIN_DEPTH = 16

#: save_kwargs a by-reference write honours: the layout and the zone map
#: (the write keeps the base schema, so any schema_policy holds)
_BY_REF_SAVE_KW = {
    "zone_index", "zorder_by", "zorder_bits", "zorder_files",
    "zorder_strategy", "schema_policy",
}


@dataclass
class _Run:
    """One :func:`delta_save` call's inputs — what its full, converged
    and incremental exits share."""

    sess: Session
    source: DataChain
    process: Callable[[DataChain], DataChain]
    name: str
    keys: list
    cmp_list: Optional[list]
    job_hash: str
    save_kw: dict
    ann_index: Optional[dict]
    bm25_index: Optional[dict]
    gram_index: Optional[dict]
    profile: Optional[dict]
    compact_target_bytes: Optional[int]
    #: delta_source_* attrs pinning a stored-version source, else None
    src_pin: Optional[dict] = None

    @property
    def snap_name(self) -> str:
        return f"{self.name}__delta_source"

    @property
    def flat_keys(self) -> list:
        return [k.replace(".", "__") for k in self.keys]


def delta_save(
    source: DataChain,
    process: Callable[[DataChain], DataChain],
    name: str,
    delta_on: Union[str, Sequence[str]],
    delta_compare: Union[str, Sequence[str], None] = None,
    delta_retry: Union[bool, str, None] = None,
    session: Optional[Session] = None,
    save_kwargs: Optional[dict] = None,
    ann_index: Optional[dict] = None,
    bm25_index: Optional[dict] = None,
    gram_index: Optional[dict] = None,
    profile: Optional[dict] = None,
    compact_target_bytes: Optional[int] = None,
    _job_extra: str = "",
) -> DataChain:
    """Incrementally (re)compute ``name`` from ``source``.

    - First run: full process(source).save(name).
    - Later runs: process only rows of ``source`` that are new or modified
      vs the snapshot used last time (keys ``delta_on``, change detection on
      ``delta_compare`` or all common columns), then union with the previous
      result minus rows whose keys were reprocessed or deleted.
    - ``delta_retry='error_col'``: additionally reprocess rows whose previous
      result has a non-null value in that column; ``delta_retry=True``:
      reprocess source rows missing from the result (anti-join), parity
      delta.py:126-186.

    Index refresh through the delta path (r08 verdict task 4):

    - ``save_kwargs`` forwards to every ``.save(name, ...)`` this run
      performs — ``zone_index=[cols]`` (+ ``zorder_by``) keeps the
      file-level zone map current on each incremental save, so
      ``read_dataset(prune=...)`` always answers against the newest
      version (the new version's files are freshly written, so its
      per-file zones are ONE column-pruned metadata-sized scan — there
      is no stale-file state to reuse).
    - ``ann_index={"id_col": ..., "vec_col": ..., "num_cells": ...,
      "kmeans_iters": ...}`` maintains the persisted IVF index: a full
      ``ann_index_dataset`` build on the first run, then
      ``ann_index_refresh`` on every later run — centroids reused,
      stored assignments kept, only this run's reprocessed keys
      re-assigned (passed as ``changed_keys`` when the delta key IS the
      index id; otherwise the refresh detects changes by in-plan vector
      comparison).
    - ``bm25_index={"id_col": ..., "text_col": ...}`` maintains the
      persisted lexical index the same way: full
      ``bm25_index_dataset`` build on the first run, then
      ``bm25_index_refresh`` — unchanged documents (by raw-text
      fingerprint) are never re-tokenized.
    - ``gram_index={"id_col": ..., "text_col": ..., "ngram": ...}``
      maintains the persisted phrase-search gram index
      (``gram_index_dataset`` / ``gram_index_refresh``) with the same
      fingerprint-join churn-only cost, so ``find_substring`` always
      probes an index of the newest version (r09 verdict task 7).
    - ``profile={"group_cols": ..., "value_col": ..., "lo": ...,
      "hi": ..., "bins": ..., "distinct_col": ...}`` keeps the release
      gate's per-version PROFILE current (ops/release.profile_version,
      r09 verdict task 2): a full profile on the first run; on
      incremental runs the APPEND-ONLY fast path — sketch only this
      run's processed rows and merge into the previous version's stored
      profile — is taken exactly when the run displaced no previous
      result row and deleted none (merge == profile-the-union only
      then); any other modify/delete/retry churn forces a full
      re-profile of the new version, honoring the contract at ops/release.py
      (``profile_version`` increment docstring).
    - ``compact_target_bytes=<bytes>`` runs OPTIMIZE-style maintenance
      inside the pipeline: when a save leaves the new version fragmented
      beyond the target layout (more files than ``ceil(total/target)``),
      it is compacted via ``compact_dataset`` — which carries every
      per-version index and the profile over to the rewritten copy — and
      the checkpoint stamp lands on the compacted head, so the next run
      no-ops as usual. At 100 TB incremental appends are how small files
      happen; this keeps maintenance in the same pass instead of a
      separate janitor job.

    What the next run diffs against (cheapest sound form, r11):

    - source is a stored dataset version read verbatim (``read_dataset``
      or a ``.save()`` return): NOTHING is copied — the immutable
      version is pinned in the result head's attrs
      (``delta_source_dataset``/``delta_source_version``), exactly the
      reference's "previous dataset version of the source". A re-run
      from the same pinned version with unchanged code converges with
      zero Spark jobs.
    - raw-storage source with explicit ``delta_compare``: an internal
      ``<name>__delta_source`` snapshot of ONLY the key+compare columns
      (the diff never reads the old side's payload).
    - raw-storage source, ``delta_compare=None``: full-width snapshot
      (the diff compares every common column).

    A vacuumed pin or a narrow snapshot that cannot answer this run's
    compare falls back to one full reprocess — a sound superset, never a
    wrong answer.
    """
    sess = session or source.session
    keys = [delta_on] if isinstance(delta_on, str) else list(delta_on)
    ms = sess.metastore
    run = _Run(
        sess=sess, source=source, process=process, name=name, keys=keys,
        cmp_list=(
            None if delta_compare is None
            else [delta_compare] if isinstance(delta_compare, str)
            else list(delta_compare)
        ),
        job_hash=fingerprint_fn(process, extra=",".join(keys) + _job_extra),
        save_kw=dict(save_kwargs or {}), ann_index=ann_index,
        bm25_index=bm25_index, gram_index=gram_index, profile=profile,
        compact_target_bytes=compact_target_bytes,
    )
    prev_result_rec = ms.get_record(name)
    prev_snap_rec = ms.get_record(run.snap_name)

    # pin-not-copy (guide §2.3/§8 — store keys and metadata, not
    # payloads): when the source IS a stored dataset version read
    # verbatim, that immutable version is the snapshot — nothing needs
    # writing; the next run diffs against the pinned version directly
    # (reference parity: delta reads the previous *dataset version* of
    # the source). Any transformation drops the marker via _evolve.
    info = getattr(source, "_dataset_info", None) or {}
    if (
        getattr(source, "_pristine_version_read", False)
        and info.get("name") and info.get("version")
    ):
        # pin the version's UUID too: a delete_dataset(force=True) + re-save
        # can reuse the same version STRING for different contents — the
        # uuid makes such a recreated version force the diff/full path
        # instead of silently converging against stale results
        try:
            run.src_pin = {
                "delta_source_dataset": info["name"],
                "delta_source_version": info["version"],
                "delta_source_uuid": ms.get_record(info["name"])
                .get_version(info["version"]).uuid,
            }
        except Exception:  # noqa: BLE001 — unreadable pin: treat as unpinned
            run.src_pin = None

    prev_version = (
        prev_result_rec.latest_version() if prev_result_rec else None
    )
    prev_attrs = prev_version.attrs if prev_version else {}
    pin_name = prev_attrs.get("delta_source_dataset")
    pin_ver = prev_attrs.get("delta_source_version")

    if prev_result_rec is None or (prev_snap_rec is None and not pin_name):
        # first run: full compute
        return _full_run(run)

    # zero-job convergence: the source is the exact dataset version the
    # previous run processed and the code is unchanged — contents are
    # guaranteed identical, so skip the diff entirely (a cascade refresh
    # over a diamond graph re-runs sibling pipelines; the untouched ones
    # converge without a single Spark job). delta_retry still forces the
    # diff path: error rows must reprocess even from an unchanged source.
    if (
        run.src_pin is not None and not delta_retry
        and (pin_name, pin_ver) == (
            run.src_pin["delta_source_dataset"],
            run.src_pin["delta_source_version"],
        )
        # a recreated version (same string, new uuid) must NOT converge;
        # a legacy pin without a stored uuid keeps its old behavior
        and prev_attrs.get("delta_source_uuid")
        in (None, run.src_pin["delta_source_uuid"])
        and prev_version.job_hash == run.job_hash
    ):
        return _converge(run, prev_version)

    # resolve the previous source contents: pinned dataset version first,
    # stored snapshot otherwise
    prev_snap = None
    if pin_name:
        try:
            psdf, _, psdv_pin = ms.load_dataset(sess.spark, pin_name, pin_ver)
            pin_uuid = prev_attrs.get("delta_source_uuid")
            # same version string, different contents (deleted with
            # force=True and re-saved): the contents the previous run
            # processed are gone — diffing against the recreated version
            # would mislabel its rows as "unchanged"
            if pin_uuid is None or psdv_pin.uuid == pin_uuid:
                prev_snap = DataChain(psdf, sess)
        except Exception:  # noqa: BLE001 — pinned version vacuumed
            prev_snap = None
    elif prev_snap_rec is not None:
        psdf, _, psdv = ms.load_dataset(sess.spark, run.snap_name)
        snap_cols = psdv.attrs.get("delta_snap_cols")
        if snap_cols:
            stored = set(snap_cols.split(","))
            want = set(keys) | set(run.cmp_list or [])
            # a narrow snapshot only answers the diff it was written
            # for: this run must use explicit compare columns the
            # snapshot carries; anything else can't see modifications
            if run.cmp_list is not None and want <= stored:
                prev_snap = DataChain(psdf, sess)
        else:
            prev_snap = DataChain(psdf, sess)
    if prev_snap is None:
        # previous source contents unavailable (vacuumed pin / narrow
        # snapshot that can't answer this run's compare): reprocess
        # everything — one full pass, never wrong (vanished keys drop
        # because the fresh save IS the whole result)
        return _full_run(run)

    # the A/M status rides along so a pure append (no key reprocessed,
    # none deleted) is proven from the SAME diff scan (an extra join
    # against prev keys would re-read the old side)
    changed_st = source.diff(
        prev_snap, on=keys, compare=delta_compare,
        added=True, modified=True, deleted=False, same=False,
        status_col="__delta_st",
    )
    changed = changed_st._evolve(changed_st.df.drop("__delta_st"))
    # rows that disappeared from the source (their results must drop)
    deleted = prev_snap.subtract(source, on=keys)

    prev_df, _, _ = ms.load_dataset(sess.spark, name, prev_version.version)
    prev_result = DataChain(prev_df, sess)

    # dotted keys (e.g. "file.path"): selecting them yields the LEAF name,
    # so key-only projections alias to a flat stand-in and joins use
    # on=keys / right_on=flat
    flat_keys = run.flat_keys

    def _key_sel(df):
        return df.select(*[F.col(k).alias(f) for k, f in zip(keys, flat_keys)])

    retry_keys = None
    if delta_retry:
        if isinstance(delta_retry, str) and delta_retry is not True:
            # string columns: non-empty value marks an error (the reference
            # filters C(col) != "" — delta.py:160-161 — matching the
            # examples' ""-on-success convention); other types: non-null
            from pyspark.sql import types as T

            err = F.col(delta_retry)
            field_type = prev_result.df.select(err.alias("__e")).schema["__e"].dataType
            cond = (
                (err.isNotNull() & (err != ""))
                if isinstance(field_type, T.StringType)
                else err.isNotNull()
            )
            retry_keys = DataChain(_key_sel(prev_result.filter(cond).df), sess)
        else:
            retry_keys = DataChain(
                _key_sel(source.subtract(prev_result, on=keys).df), sess
            )

    to_process = changed
    # emptiness probe, not a count: isEmpty stops at the first row
    # instead of scanning the corpus-sized retry frame
    if retry_keys is not None and not retry_keys.df.isEmpty():
        retry_rows = source.merge(
            retry_keys.distinct(*flat_keys), on=keys, right_on=flat_keys, inner=True
        ).select(*source.columns)
        unioned = to_process.df.unionByName(retry_rows.df)
        for k, f in zip(keys, flat_keys):
            if "." in k:
                unioned = unioned.withColumn(f, F.col(k))
        unioned = unioned.dropDuplicates(flat_keys).drop(
            *[f for k, f in zip(keys, flat_keys) if "." in k]
        )
        # keep the source's dataset/storage pins through the retry
        # union — a raw DataChain would save the version with an empty
        # dependency record and sever the lineage edge until the next
        # retry-free run
        to_process = DataChain(unioned, sess,
                               dependencies=changed._dependencies)

    # keys(+status)-only projections, computed ONCE and cached: they feed
    # the row counts, the stale-key set, the ANN changed-key set and the
    # rewrite path's profile-increment semi-join — without the cache each
    # reuse re-runs the corpus-sized diff/subtract plan (one redundant
    # full job per profiled save at 100 TB)
    if to_process is changed:
        # no retry union: count adds and modifications in ONE job over
        # the cached key+status projection
        cached = changed_st.df.select(
            *[F.col(k).alias(f) for k, f in zip(keys, flat_keys)],
            "__delta_st",
        ).persist()
        proc_keys = cached.drop("__delta_st")
        row = cached.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("__delta_st") == "M", 1).otherwise(0)
            ).alias("m"),
        ).collect()[0]
        n_changed = int(row["n"])
        n_modified = int(row["m"] or 0)
    else:
        cached = proc_keys = _key_sel(to_process.df).persist()
        n_changed = proc_keys.count()
        n_modified = None  # retried keys may displace previous rows
    # n_deleted is needed by the convergence check, the profile
    # increment gate and the pure-append proof — always one keys-only
    # subtract over the (narrow/pinned) old side
    del_keys = _key_sel(deleted.df).persist()
    n_deleted = del_keys.count()
    try:
        if n_changed == 0 and n_deleted == 0 and prev_version.job_hash == run.job_hash:
            return _converge(run, prev_version)

        processed = process(to_process)
        if set(processed.columns) != set(prev_result.columns):
            raise SchemaDriftError(
                f"delta re-run schema {sorted(processed.columns)} != previous "
                f"result schema {sorted(prev_result.columns)}"
            )

        # BY-REFERENCE WRITE: the new version is the previous version's
        # files by reference plus only the processed rows — an O(churn)
        # write instead of the full kept∪processed corpus rewrite. A pure
        # append (nothing reprocessed, nothing deleted) writes just that;
        # any other churn adds a churn-sized TOMBSTONE key set — exactly
        # the keys the rewrite's subtract would remove — and readers hide
        # base rows whose key a later chain link tombstones. Everything
        # downstream (reads, indexes, profile, compaction, fragmentation
        # accounting) resolves the chain through the manifest;
        # compact_target_bytes heals long chains into self-contained
        # copies, and a chain MAX_CHAIN_DEPTH links deep takes the rewrite
        # instead, bounding per-read file listing and the tombstone
        # anti-join state. Tombstones only pay off while churn is the
        # minority: past half the corpus, the rewrite reads less than
        # chain+tombstone reads would cost every downstream scan.
        stale_keys = proc_keys.unionByName(del_keys).dropDuplicates()
        pure_append = n_modified == 0 and n_deleted == 0
        churn = n_changed + n_deleted
        prev_types = {f.name: f.dataType for f in prev_result.df.schema.fields}
        proc_types = {f.name: f.dataType for f in processed.df.schema.fields}
        by_ref = (
            churn > 0
            and (pure_append or 2 * churn <= prev_version.num_rows)
            and not prev_version.bucket
            and prev_types == proc_types
            and set(run.save_kw) <= _BY_REF_SAVE_KW
            and len(ms._extends_closure(prev_result_rec, prev_version))
            < MAX_CHAIN_DEPTH
        )
        new_dv = n_displaced = None
        if by_ref:
            rows = processed._evolve(processed.df.select(*prev_result.df.columns))
            new_dv, n_displaced = ms.extend_dataset_version(
                sess.spark,
                rows._laid_out(**{
                    k: v for k, v in run.save_kw.items() if k.startswith("zorder_")
                }),
                name, prev_version,
                None if pure_append else stale_keys, keys,
                dependencies=processed._dependencies,
            )
            result = rows._version_chain(name, new_dv, run.save_kw.get("zone_index"))
        else:
            # previous results still valid: key not reprocessed, not deleted
            kept = prev_result.subtract(
                DataChain(stale_keys, sess), on=keys, right_on=flat_keys,
            )
            # _evolve keeps the processed branch's lineage (the source's
            # dataset/storage pins plus anything process() merged in) and
            # its signal models
            result = processed._evolve(
                kept.df.unionByName(processed.df, allowMissingColumns=False)
            ).save(name, **run.save_kw)
        _compact(run)
        _maintain_indexes(
            run, changed_keys=proc_keys, diffed_against=prev_version.version
        )
        if profile:
            _profile_increment_or_full(
                run, prev_version, proc_keys, n_deleted, new_dv, n_displaced
            )
        _finish(run)
        return result
    finally:
        cached.unpersist()
        del_keys.unpersist()


def _full_run(run: _Run) -> DataChain:
    result = run.process(run.source).save(run.name, **run.save_kw)
    _compact(run)
    _maintain_indexes(run)
    _profile(run)
    _finish(run)
    return result


def _converge(run: _Run, prev_version) -> DataChain:
    """Exit of a run whose source matches the previous one and whose code
    is unchanged: the head already IS this run's result, so nothing is
    rewritten — only maintenance the head lacks catches up (indexes,
    zone map or profile newly requested or linked to an older version,
    compaction newly enabled) and the pins advance."""
    sess, name, ms = run.sess, run.name, run.sess.metastore
    _maintain_indexes(run, converged=prev_version.version)
    if run.profile and not _has_matching_profile(
        sess, name, prev_version.version, run.profile
    ):
        _profile(run)
    # re-pin the head's recorded dataset dependencies to the source's
    # current versions so lineage staleness converges; otherwise a
    # no-change upstream re-save leaves every downstream flagged stale
    # forever and refresh_downstream re-runs no-op pipelines on every
    # cascade. A pinned source's pin advances to the version this run
    # diffed (contents identical): the next unchanged run then converges
    # with ZERO Spark jobs instead of re-proving an empty diff
    # (manifest-only write).
    rec = ms.get_record(name)
    head = rec.get_version(prev_version.version)
    src_by_name = {
        d.get("dataset"): d for d in run.source._dependencies if d.get("dataset")
    }
    seen = {d.get("dataset") for d in head.dependencies}
    changed = False
    for d in head.dependencies:
        nd = src_by_name.get(d.get("dataset"))
        if nd is not None and nd.get("version") != d.get("version"):
            d["version"] = nd.get("version")
            changed = True
    for nm, nd in src_by_name.items():
        if nm not in seen:
            head.dependencies.append(dict(nd))
            changed = True
    if run.src_pin is not None and any(
        head.attrs.get(k) != v for k, v in run.src_pin.items()
    ):
        head.attrs.update(run.src_pin)
        changed = True
    if changed:
        ms._write_record(rec)
    if _compact(run):
        # re-stamp the (unchanged) job hash on the compacted head so the
        # next run still no-ops
        _stamp_job_hash(sess, name, run.job_hash)
    df, _, _ = ms.load_dataset(sess.spark, name, prev_version.version)
    out = DataChain(df, sess)
    if prev_version.signal_schema:
        from .schema import deserialize_signals

        out._signal_models = deserialize_signals(prev_version.signal_schema)
    return out


def _compact(run: _Run) -> bool:
    """Compact the head when it is fragmented beyond the target layout
    (the metastore's own should_compact predicate). Runs before the
    index/profile maintenance of a write (so each runs once, against the
    final head) and before the job-hash stamp (so the stamp lands on the
    compacted version — the next run's checkpoint base)."""
    ms = run.sess.metastore
    if not run.compact_target_bytes or not ms.should_compact(
        run.name, None, run.compact_target_bytes
    ):
        return False
    ms.compact_dataset(
        run.sess.spark, run.name, target_file_bytes=run.compact_target_bytes,
    )
    return True


def _maintain_indexes(
    run: _Run, converged: Optional[str] = None, changed_keys=None,
    diffed_against: Optional[str] = None,
) -> None:
    """Bring every index the run maintains up to the head: a full build
    when none exists, else a refresh from the newest generation.

    ``converged``: the head's version when the run wrote nothing — an
    index already built for it is left alone, and a requested zone map
    that is missing gets built (a written version builds its own in
    save). ``changed_keys``/``diffed_against``: the reprocessed key set
    and the version it was diffed from, handed to the ANN refresh when
    the delta key IS the index id (the refresh drops the set, falling
    back to vector comparison, when its base generation is another)."""
    sess, name, ms = run.sess, run.name, run.sess.metastore
    if run.ann_index:
        opts = dict(run.ann_index)
        id_col = opts.pop("id_col")
        gen = ms._newest_ann_generation(sess.spark, name) if converged else None
        if gen is None or gen[2] != converged:
            if changed_keys is not None and run.keys == [id_col]:
                opts.update(changed_keys=changed_keys, changed_since=diffed_against)
            ms.ann_index_refresh(sess.spark, name, id_col, **opts)
    for spec, newest, build, refresh, of_version in (
        (run.bm25_index, ms._newest_bm25_generation, ms.bm25_index_dataset,
         ms.bm25_index_refresh, "bm25_of_version"),
        (run.gram_index, ms._newest_grams_generation, ms.gram_index_dataset,
         ms.gram_index_refresh, "grams_of_version"),
    ):
        if not spec:
            continue
        gen = newest(sess.spark, name)
        if gen is None:
            build(sess.spark, name, **spec)
        elif converged is None or gen[2].get(of_version) != converged:
            refresh(sess.spark, name)
    if converged and run.save_kw.get("zone_index"):
        from .error import DatasetNotFoundError

        try:
            ms._load_zone_index(sess.spark, name, converged)
        except DatasetNotFoundError:
            ms.zone_index_dataset(
                sess.spark, name, list(run.save_kw["zone_index"]),
                version=converged,
            )


def _profile(run: _Run, increment=None, base_version=None) -> None:
    if not run.profile:
        return
    from .ops.release import profile_version

    profile_version(
        run.name, session=run.sess, increment=increment,
        base_version=base_version, **run.profile,
    )


def _profile_increment_or_full(
    run: _Run, prev_version, proc_keys, n_deleted, new_dv, n_displaced,
) -> None:
    """Profile the version an incremental run just wrote. Merging an
    increment into the previous version's stored profile is sound only
    when the run deleted nothing and displaced no previous-result row —
    any churn double-counts in a merged sketch, so churn re-profiles the
    new version from scratch (as does a stored profile built with another
    config). The increment is always read from what was SAVED, never the
    lazy processed plan: re-evaluating a nondeterministic process() could
    profile rows that differ from the persisted ones.

    - by-reference write (``new_dv``): the writer counted the displaced
      rows, and its churn files ARE the increment — O(churn), no head
      scan (even if compaction just rewrote the head, the churn dir still
      holds exactly the written rows);
    - rewrite: the increment is the head's rows carrying a reprocessed
      key (one churn-key semi-join — the delta contract keeps key values
      unchanged through process()), and the head's num_rows minus its
      count is the number of previous rows kept."""
    sess, name = run.sess, run.name
    inc = None
    if n_deleted == 0 and _has_matching_profile(
        sess, name, prev_version.version, run.profile
    ):
        if new_dv is not None:
            if n_displaced == 0:
                from pyspark.sql import types as T

                inc = sess.spark.read.schema(
                    T.StructType.fromJson(json.loads(new_dv.schema_json))
                ).parquet(sess.metastore.version_data_path(name, new_dv.version))
        else:
            head_df, _, head_v = sess.metastore.load_dataset(sess.spark, name)
            h = head_df.alias("h")
            p = proc_keys.alias("p")
            cond = None
            for k, f in zip(run.keys, run.flat_keys):
                c = F.col(f"h.{k}").eqNullSafe(F.col(f"p.{f}"))
                cond = c if cond is None else cond & c
            inc = h.join(p, cond, "left_semi").persist()
            if head_v.num_rows - inc.count() != prev_version.num_rows:
                inc.unpersist()
                inc = None
    try:
        if inc is None:
            _profile(run)
        else:
            _profile(run, increment=inc, base_version=prev_version.version)
    finally:
        if inc is not None:
            inc.unpersist()


def _has_matching_profile(
    sess: Session, name: str, data_version: str, cfg: dict
) -> bool:
    """True when a stored profile of ``data_version`` exists AND was built
    with exactly this config — the increment-merge precondition. A
    mere-existence check would let a config change (new bins/edges) reach
    profile_version's cfg-mismatch ValueError mid-save, after the data
    version was written but before the snapshot advanced."""
    from .catalog.metastore import split_name
    from .ops.release import _CFG_KEYS, _cfg_attrs

    gc = cfg.get("group_cols")
    keys = (
        ["__scope"] if gc is None
        else [gc] if isinstance(gc, str)
        else list(gc)
    )
    want = _cfg_attrs(
        keys, cfg.get("value_col"), cfg.get("lo"), cfg.get("hi"),
        cfg.get("bins", 64), cfg.get("distinct_col"),
    )
    pns, pproj, pbase = split_name(f"{name}__profile")
    prec = sess.metastore._read_record(pns, pproj, pbase)
    return any(
        v.attrs.get("profile_of_version") == data_version
        and all(v.attrs.get(k, "") == want.get(k, "") for k in _CFG_KEYS)
        for v in (prec.versions if prec else [])
    )


def _snapshot_source(run: _Run) -> dict:
    """Persist what the next run's diff needs, the cheapest sound way;
    returns the pin attrs to stamp on the result head.

    - dataset-version source: write nothing (the pin identifies it);
    - raw source with explicit delta_compare: keys+compare columns only —
      diff(added/modified) takes left-side values and the deleted probe
      is keys-only, so the old side's payload columns are never read (a
      full-width copy of a 100-TB source per run otherwise);
    - raw source, compare=None: full snapshot (the diff compares every
      common column).
    """
    if run.src_pin is not None:
        return dict(run.src_pin)
    source = run.source
    if run.cmp_list is not None:
        want = list(dict.fromkeys([*run.keys, *run.cmp_list]))
        cols = set(source.df.columns)
        if all(("." not in c) and c in cols for c in want):
            source.select(*want).save(
                run.snap_name, attrs={"delta_snap_cols": ",".join(want)}
            )
            return {}
    source.save(run.snap_name)
    return {}


def _finish(run: _Run) -> None:
    """Snapshot the source for the next run's diff, then stamp the
    checkpoint job hash plus the source-pin attrs on the head version.
    The pin attrs are authoritative for the run's snapshot mode: empty
    means a ``__delta_source`` snapshot was written, so any stale pin
    from an earlier dataset-sourced run must come OFF (the next run reads
    the pin first)."""
    pin_attrs = _snapshot_source(run)
    ms = run.sess.metastore
    rec = ms.get_record(run.name)
    v = rec.latest_version()
    v.job_hash = run.job_hash
    if pin_attrs:
        v.attrs.update(pin_attrs)
    else:
        for k in ("delta_source_dataset", "delta_source_version",
                  "delta_source_uuid"):
            v.attrs.pop(k, None)
    ms._write_record(rec)


def _stamp_job_hash(sess: Session, name: str, job_hash: str) -> None:
    rec = sess.metastore.get_record(name)
    v = rec.latest_version()
    v.job_hash = job_hash
    sess.metastore._write_record(rec)


def plan_fingerprint(df, extra_key: str = "") -> str:
    """sha256 of the analyzed logical plan with session-assigned expression
    ids (`#123`) normalized away — identical chains built in different
    sessions fingerprint identically; any step/literal/column change still
    changes the hash."""
    import re as _re

    plan = df._jdf.queryExecution().analyzed().toString()
    plan = _re.sub(r"#\d+", "#", plan)
    return hashlib.sha256((plan + extra_key).encode()).hexdigest()[:32]


def checkpoint_save(
    chain: DataChain,
    name: str,
    session: Optional[Session] = None,
    extra_key: str = "",
) -> DataChain:
    """Checkpoint-aware save: if a version of ``name`` exists whose job_hash
    matches the fingerprint of this chain's logical plan, reuse it instead of
    recomputing (parity: lib/dc/datachain.py:696-722 checkpoint skip).

    The fingerprint hashes our own plan description (the DataFrame's
    *analyzed logical plan* string), not the physical plan — stable across
    AQE/statistics changes within a Spark version (SURVEY.md §7 recommends
    hashing step descriptors; the analyzed plan is the closest stable IR).
    """
    sess = session or chain.session
    h = plan_fingerprint(chain.df, extra_key)
    rec = sess.metastore.get_record(name)
    if rec is not None:
        for v in rec.versions:
            if v.job_hash == h:
                df, _, _ = sess.metastore.load_dataset(sess.spark, name, v.version)
                return DataChain(df, sess)
    dv = sess.metastore.save_dataset(chain.df, name, job_hash=h)
    df, _, _ = sess.metastore.load_dataset(sess.spark, name, dv.version)
    return DataChain(df, sess)


# --------------------------------------------------------------------------
# flag-style delta chains (reference lib/dc/storage.py:33-41 /
# lib/dc/datasets.py:36-43: read_*(delta=True, delta_on=..., delta_retry=...)
# ... .save(name=...)) — used verbatim by the public
# examples/incremental_processing scripts.
# --------------------------------------------------------------------------

#: methods the reference disables under delta (delta.py:28-46 delta_disabled
#: on agg/distinct/group_by/merge/union) unless delta_unsafe is set
DELTA_RESTRICTED = {"agg", "distinct", "group_by", "merge", "union"}


def _stable_repr(obj) -> str:
    """Deterministic repr for checkpoint fingerprints: callables hash by
    bytecode (their default repr embeds a memory address)."""
    if callable(obj):
        return fingerprint_fn(obj)
    try:
        return repr(obj)
    except Exception:  # noqa: BLE001
        return type(obj).__name__


class DeltaChain:
    """A pending incremental chain: transformation calls are RECORDED, not
    executed; ``save(name)`` replays them through :func:`delta_save` over a
    freshly-read source, so only new/changed/retried rows are processed.
    This is how the DataFrame-is-the-plan design supports the reference's
    step re-application (delta.py:189-391): the recorded calls ARE the
    steps, and every chain method that takes unbound Column expressions /
    callables replays cleanly onto the diff rows.

    Terminal reads (count/show/to_*) are not available before ``save`` —
    call them on its return value, exactly as the reference examples do.
    """

    def __init__(
        self,
        source_fn: Callable[[], DataChain],
        delta_on: Union[str, Sequence[str]],
        delta_compare: Union[str, Sequence[str], None] = None,
        delta_retry: Union[bool, str, None] = None,
        delta_unsafe: bool = False,
        session: Optional[Session] = None,
        _calls: Optional[list] = None,
    ) -> None:
        self._source_fn = source_fn
        self._delta_on = delta_on
        self._delta_compare = delta_compare
        self._delta_retry = delta_retry
        self._delta_unsafe = delta_unsafe
        self._session = session
        self._calls: list = list(_calls or [])

    @property
    def delta(self) -> bool:
        return True

    @property
    def delta_unsafe(self) -> bool:
        return self._delta_unsafe

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        if name in DELTA_RESTRICTED and not self._delta_unsafe:
            raise NotImplementedError(
                f"Cannot use {name} with delta datasets - may cause"
                " inconsistency. Use delta_unsafe flag to allow this operation."
            )

        def record(*args, **kwargs):
            return DeltaChain(
                self._source_fn,
                self._delta_on,
                self._delta_compare,
                self._delta_retry,
                self._delta_unsafe,
                self._session,
                [*self._calls, (name, args, kwargs)],
            )

        return record

    def save(self, name: Optional[str] = None, **kwargs) -> DataChain:
        if not name:
            raise ValueError("delta processing requires save(name=...)")
        orig_kwargs = dict(kwargs)
        calls = self._calls

        def process(ch: DataChain) -> DataChain:
            for method, args, kw in calls:
                ch = getattr(ch, method)(*args, **kw)
            return ch

        extra = ";".join(
            f"{m}({','.join(map(_stable_repr, a))},"
            f"{','.join(f'{k}={_stable_repr(v)}' for k, v in sorted(kw.items()))})"
            for m, a, kw in calls
        )
        result = delta_save(
            self._source_fn(),
            process,
            name,
            delta_on=self._delta_on,
            delta_compare=self._delta_compare,
            delta_retry=self._delta_retry,
            session=self._session,
            ann_index=kwargs.pop("ann_index", None),
            bm25_index=kwargs.pop("bm25_index", None),
            gram_index=kwargs.pop("gram_index", None),
            profile=kwargs.pop("profile", None),
            compact_target_bytes=kwargs.pop("compact_target_bytes", None),
            save_kwargs=kwargs or None,
            _job_extra=extra,
        )
        # a flag-style chain IS a re-runnable pipeline (source_fn reads
        # fresh each call, the recorded calls are the steps) — register
        # it so lineage.refresh_downstream can heal this dataset after
        # an upstream bump without a manual register_pipeline
        from .lineage import register_pipeline

        register_pipeline(
            name, lambda: self.save(name, **orig_kwargs),
            session=result.session,
        )
        return result
