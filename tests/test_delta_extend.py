"""Tombstone (delete-vector) extend fast path (r12): a modified/deleted-
heavy delta run writes only its churn plus a churn-sized tombstone key
set; readers hide base rows whose key a later chain link tombstones.
Covers: churn-only writes, rewrite-equivalence, re-add after delete,
chain depth capping, compaction healing, pruned reads, the majority-churn
fallback, the uuid-verified source pin, and the append preview top-up."""

import json
import os

import pytest

import datachain_spark as dc
from datachain_spark import C, delta
from datachain_spark.delta import delta_save


def _double(ch):
    return ch.mutate(doubled=C.x * 2)


@pytest.fixture()
def fresh_ms(session, tmp_path):
    from datachain_spark.catalog.metastore import Metastore

    old = session.metastore
    session.metastore = Metastore(str(tmp_path / "ms"))
    yield session.metastore
    session.metastore = old


def test_extend_modified_rows_write_churn_only(session, fresh_ms):
    ids = list(range(10))
    src1 = dc.read_values(session=session, id=ids, x=[i * 10 for i in ids])
    delta_save(src1, _double, "dtx_out", delta_on="id")
    base = session.metastore.get_record("dtx_out").latest_version()
    base_dir = session.metastore.version_data_path("dtx_out", base.version)
    base_files = sorted(os.listdir(base_dir))

    xs = [i * 10 for i in ids]
    xs[3], xs[7] = 999, 888  # modify two keys
    src2 = dc.read_values(session=session, id=ids, x=xs)
    out = delta_save(src2, _double, "dtx_out", delta_on="id")

    head = session.metastore.get_record("dtx_out").latest_version()
    assert head.attrs["extends_version"] == base.version
    assert json.loads(head.attrs["tombstone_on"]) == ["id"]
    assert head.num_rows == 10
    # base untouched; churn dir holds exactly the two reprocessed rows
    assert sorted(os.listdir(base_dir)) == base_files
    churn = session.spark.read.parquet(
        session.metastore.version_data_path("dtx_out", head.version)
    )
    assert sorted(r["id"] for r in churn.select("id").collect()) == [3, 7]
    tomb = session.spark.read.parquet(
        session.metastore.version_tombstone_path("dtx_out", head.version)
    )
    assert sorted(r["id"] for r in tomb.collect()) == [3, 7]
    # head reads show the new values exactly once per key
    got = dict(out.to_list("id", "doubled"))
    assert got[3] == 1998 and got[7] == 1776
    assert len(got) == 10 and got[0] == 0 and got[9] == 180
    # the base version still reads as its own (pre-modify) rows
    old_df, _, _ = session.metastore.load_dataset(
        session.spark, "dtx_out", base.version
    )
    old = dict((r["id"], r["doubled"]) for r in old_df.collect())
    assert old[3] == 60 and old[7] == 140
    # the head's preview reflects the visible rows, not the stale base
    pv = {r["id"]: r["doubled"] for r in head.preview}
    assert pv.get(3) == 1998


def test_extend_equals_rewrite(session, fresh_ms, monkeypatch):
    """The tombstone chain and the full rewrite must produce identical
    rows for the same modified+deleted+added churn."""
    def run(name):
        ids = list(range(8))
        src1 = dc.read_values(session=session, id=ids, x=[i for i in ids])
        delta_save(src1, _double, name, delta_on="id")
        # run 2: modify 1, delete 6 and 7, add 8
        src2 = dc.read_values(
            session=session, id=[0, 1, 2, 3, 4, 5, 8],
            x=[0, 100, 2, 3, 4, 5, 8],
        )
        out = delta_save(src2, _double, name, delta_on="id")
        return sorted(out.to_list("id", "x", "doubled"))

    fast = run("deq_fast")
    assert "tombstone_on" in (
        session.metastore.get_record("deq_fast").latest_version().attrs
    )
    monkeypatch.setattr(delta, "MAX_CHAIN_DEPTH", 1)
    slow = run("deq_slow")
    assert "extends_version" not in (
        session.metastore.get_record("deq_slow").latest_version().attrs
    )
    assert fast == slow
    assert [i for i, _, _ in fast] == [0, 1, 2, 3, 4, 5, 8]


def test_extend_readd_after_delete(session, fresh_ms):
    src1 = dc.read_values(session=session, id=[1, 2, 3, 4, 5, 6],
                          x=[1, 2, 3, 4, 5, 6])
    delta_save(src1, _double, "dra_out", delta_on="id")
    # delete id=2
    src2 = dc.read_values(session=session, id=[1, 3, 4, 5, 6],
                          x=[1, 3, 4, 5, 6])
    out2 = delta_save(src2, _double, "dra_out", delta_on="id")
    assert sorted(i for i, in out2.to_list("id")) == [1, 3, 4, 5, 6]
    # re-add id=2 with a new value
    src3 = dc.read_values(session=session, id=[1, 2, 3, 4, 5, 6],
                          x=[1, 99, 3, 4, 5, 6])
    out3 = delta_save(src3, _double, "dra_out", delta_on="id")
    got = dict(out3.to_list("id", "doubled"))
    assert got[2] == 198 and len(got) == 6
    rec = session.metastore.get_record("dra_out")
    head = rec.latest_version()
    # run 2 (the delete) is a tombstoned link; run 3 re-adds a key that is
    # absent from the VISIBLE base, so it rides the plain append link —
    # the re-added row must still win over the tombstone one link earlier
    assert head.num_rows == 6 and head.attrs.get("extends_version")
    mid = rec.get_version(head.attrs["extends_version"])
    assert "tombstone_on" in mid.attrs


def test_chain_depth_capped(session, fresh_ms, monkeypatch):
    """A long incremental series must never build a chain deeper than
    delta.MAX_CHAIN_DEPTH — the capped run does one full save and the
    chain restarts from the self-contained copy."""
    monkeypatch.setattr(delta, "MAX_CHAIN_DEPTH", 3)
    ms = session.metastore
    max_depth_seen = 0
    for n in range(2, 9):
        src = dc.read_values(
            session=session, id=list(range(n)), x=list(range(n))
        )
        delta_save(src, _double, "dcap_out", delta_on="id")
        rec = ms.get_record("dcap_out")
        head = rec.latest_version()
        depth = len(ms._chain_data_paths(rec, head))
        max_depth_seen = max(max_depth_seen, depth)
        out, _, _ = ms.load_dataset(session.spark, "dcap_out")
        assert out.count() == n
    assert max_depth_seen == 3


def test_extend_chain_compacts_self_contained(session, fresh_ms):
    src1 = dc.read_values(session=session, id=[1, 2, 3, 4],
                          x=[1, 2, 3, 4])
    delta_save(src1, _double, "dxc_out", delta_on="id")
    src2 = dc.read_values(session=session, id=[1, 2, 3, 4],
                          x=[1, 50, 3, 4])
    delta_save(src2, _double, "dxc_out", delta_on="id")
    assert "tombstone_on" in (
        session.metastore.get_record("dxc_out").latest_version().attrs
    )
    new_dv = session.metastore.compact_dataset(
        session.spark, "dxc_out", target_file_bytes=1 << 30
    )
    assert "extends_version" not in new_dv.attrs
    assert "tombstone_on" not in new_dv.attrs
    df, _, _ = session.metastore.load_dataset(
        session.spark, "dxc_out", new_dv.version
    )
    got = dict((r["id"], r["doubled"]) for r in df.collect())
    assert got == {1: 2, 2: 100, 3: 6, 4: 8}
    removed = session.metastore.vacuum_dataset("dxc_out", keep_last=1)
    assert len(removed) == 2


def _dir_bytes(path):
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
    )


def test_extend_write_is_churn_sized(session, fresh_ms):
    """The modified-heavy run's physical write (churn dir + tombstone dir)
    must stay churn-sized — a small fraction of the base it extends —
    instead of the O(corpus) rewrite it replaced (measured 1.7 KB vs the
    rewrite's 43 KB on this shape)."""
    ids = list(range(2000))
    src1 = dc.read_values(session=session, id=ids, x=[i * 3 for i in ids])
    delta_save(src1, _double, "dbw_out", delta_on="id")
    ms = session.metastore
    base = ms.get_record("dbw_out").latest_version()
    base_bytes = _dir_bytes(ms.version_data_path("dbw_out", base.version))

    xs = [i * 3 for i in ids]
    for i in range(0, 2000, 100):  # modify 20 of 2000 keys
        xs[i] = -xs[i]
    src2 = dc.read_values(session=session, id=ids, x=xs)
    delta_save(src2, _double, "dbw_out", delta_on="id")
    head = ms.get_record("dbw_out").latest_version()
    assert head.attrs.get("tombstone_on")
    written = _dir_bytes(ms.version_data_path("dbw_out", head.version)) + \
        _dir_bytes(ms.version_tombstone_path("dbw_out", head.version))
    assert written < base_bytes / 2, (
        f"extend wrote {written} bytes vs base {base_bytes} — not churn-sized"
    )


def test_extend_majority_churn_falls_back(session, fresh_ms):
    """Churn over half the corpus takes the plain rewrite — a chain whose
    tombstones cover most of the base would tax every later read."""
    src1 = dc.read_values(session=session, id=[1, 2, 3], x=[1, 2, 3])
    delta_save(src1, _double, "dmj_out", delta_on="id")
    src2 = dc.read_values(session=session, id=[1, 2, 3], x=[10, 20, 3])
    out = delta_save(src2, _double, "dmj_out", delta_on="id")
    head = session.metastore.get_record("dmj_out").latest_version()
    assert "extends_version" not in head.attrs
    assert sorted(out.to_list("id", "doubled")) == [(1, 20), (2, 40), (3, 6)]


def test_extend_pruned_read_hides_displaced(session, fresh_ms):
    """read_dataset(prune=...)/read_pruned over a tombstoned chain must
    hide the displaced base rows the zone-surviving files still hold."""
    ids = list(range(20))
    src1 = dc.read_values(session=session, id=ids, x=[i * 2 for i in ids])
    delta_save(src1, _double, "dpr_out", delta_on="id",
               save_kwargs={"zone_index": ["id"]})
    xs = [i * 2 for i in ids]
    xs[5] = 777
    src2 = dc.read_values(session=session, id=ids, x=xs)
    delta_save(src2, _double, "dpr_out", delta_on="id",
               save_kwargs={"zone_index": ["id"]})
    head = session.metastore.get_record("dpr_out").latest_version()
    assert "tombstone_on" in head.attrs
    pruned = session.metastore.read_pruned(
        session.spark, "dpr_out", {"id": (5, 5)}
    ).filter("id = 5")
    rows = pruned.collect()
    assert len(rows) == 1 and rows[0]["doubled"] == 1554


def test_pin_uuid_recreate_forces_full_run(session, fresh_ms):
    """delete_dataset(force=True) + re-save under the SAME version string
    must not zero-job-converge against the old results: the pinned uuid
    no longer matches, so the run recomputes from the new contents."""
    src = dc.read_values(session=session, id=[1, 2], x=[1, 2]).save("dpu_src")
    delta_save(src, _double, "dpu_out", delta_on="id")
    ver = session.metastore.get_record("dpu_src").latest_version().version
    session.metastore.delete_dataset("dpu_src", force=True)
    recreated = dc.read_values(
        session=session, id=[7, 8], x=[70, 80]
    ).save("dpu_src", version=ver)
    out = delta_save(recreated, _double, "dpu_out", delta_on="id")
    assert sorted(out.to_list("id", "doubled")) == [(7, 140), (8, 160)]


def test_append_preview_tops_up_short_base(session, fresh_ms):
    """A 2-row base appended to 6 rows must preview more than the base's
    2 rows (the head's first-N preview contract)."""
    src1 = dc.read_values(session=session, id=[1, 2], x=[1, 2])
    delta_save(src1, _double, "dpv_out", delta_on="id")
    src2 = dc.read_values(session=session, id=[1, 2, 3, 4, 5, 6],
                          x=[1, 2, 3, 4, 5, 6])
    delta_save(src2, _double, "dpv_out", delta_on="id")
    head = session.metastore.get_record("dpv_out").latest_version()
    assert head.attrs.get("extends_version")
    assert len(head.preview) == 6


def test_parquet_codec_env_validated(session, fresh_ms, monkeypatch):
    monkeypatch.setenv("DATACHAIN_SPARK_PARQUET_CODEC", "not_a_codec")
    src = dc.read_values(session=session, id=[1], x=[1])
    with pytest.raises(ValueError, match="not_a_codec"):
        src.save("dcodec_out")
    monkeypatch.setenv("DATACHAIN_SPARK_PARQUET_CODEC", "snappy")
    src.save("dcodec_out")
    df, _, _ = session.metastore.load_dataset(session.spark, "dcodec_out")
    assert df.count() == 1


def test_dangling_extends_names_the_chain(session, fresh_ms):
    src1 = dc.read_values(session=session, id=[1], x=[1])
    delta_save(src1, _double, "ddg_out", delta_on="id")
    src2 = dc.read_values(session=session, id=[1, 2], x=[1, 2])
    delta_save(src2, _double, "ddg_out", delta_on="id")
    rec = session.metastore.get_record("ddg_out")
    base_ver = rec.versions[0].version
    session.metastore.delete_dataset("ddg_out", version=base_ver, force=True)
    from datachain_spark.error import DatasetVersionNotFoundError

    with pytest.raises(DatasetVersionNotFoundError, match="chain is broken"):
        session.metastore.load_dataset(session.spark, "ddg_out")


def test_tombstoned_chain_load_launches_no_jobs(session, fresh_ms):
    """Loading a chain with three tombstoned links reads every tombstone
    dir with the schema recorded on the version — no schema-inference
    job per link."""
    ids = list(range(20))
    xs = [i * 10 for i in ids]
    src = dc.read_values(session=session, id=ids, x=xs)
    delta_save(src, _double, "dtj_out", delta_on="id")
    for k in (3, 7, 11):  # one modified key per run -> one tombstoned link
        xs[k] = -xs[k]
        src = dc.read_values(session=session, id=ids, x=list(xs))
        delta_save(src, _double, "dtj_out", delta_on="id")
    ms = session.metastore
    rec = ms.get_record("dtj_out")
    links = ms._chain_versions(rec, rec.latest_version())
    assert sum("tombstone_on" in v.attrs for v in links) == 3
    sc = session.spark.sparkContext
    sc.setJobGroup("dtj_load", "tombstoned chain load")
    try:
        df, _, _ = ms.load_dataset(session.spark, "dtj_out")
        jobs = sc.statusTracker().getJobIdsForGroup("dtj_load")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 0, f"chain load launched {len(jobs)} jobs"
    got = dict((r["id"], r["doubled"]) for r in df.collect())
    assert got == {i: 2 * x for i, x in zip(ids, xs)}
