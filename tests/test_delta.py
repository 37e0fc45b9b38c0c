"""Incremental (delta) processing + checkpoints — mirrors the reference's
tests/func/test_delta.py semantics."""

import pytest
from pydantic import BaseModel
from pyspark.sql import functions as F

import datachain_spark as dc
from datachain_spark import C
from datachain_spark.delta import SchemaDriftError, checkpoint_save, delta_save


def _double(ch):
    return ch.mutate(doubled=C.x * 2)


def test_delta_first_run_full(session):
    src = dc.read_values(session=session, id=[1, 2, 3], x=[10, 20, 30])
    out = delta_save(src, _double, "d_full", delta_on="id")
    assert sorted(out.to_list("id", "doubled")) == [(1, 20), (2, 40), (3, 60)]


def test_delta_incremental_union(session):
    src1 = dc.read_values(session=session, id=[1, 2], x=[10, 20])
    delta_save(src1, _double, "d_incr", delta_on="id")
    # v2: row 2 modified, row 3 added, row 1 unchanged
    src2 = dc.read_values(session=session, id=[1, 2, 3], x=[10, 99, 30])
    out = delta_save(src2, _double, "d_incr", delta_on="id")
    assert sorted(out.to_list("id", "doubled")) == [(1, 20), (2, 198), (3, 60)]
    # two result versions exist
    rec = session.metastore.get_record("d_incr")
    assert len(rec.versions) == 2


def test_delta_deleted_rows_drop(session):
    src1 = dc.read_values(session=session, id=[1, 2, 3], x=[1, 2, 3])
    delta_save(src1, _double, "d_del", delta_on="id")
    src2 = dc.read_values(session=session, id=[1, 3], x=[1, 3])
    out = delta_save(src2, _double, "d_del", delta_on="id")
    assert sorted(out.to_values("id")) == [1, 3]


def test_delta_noop_skips(session):
    src = dc.read_values(session=session, id=[1], x=[5])
    delta_save(src, _double, "d_noop", delta_on="id")
    delta_save(src, _double, "d_noop", delta_on="id")  # no changes
    rec = session.metastore.get_record("d_noop")
    assert len(rec.versions) == 1  # checkpoint skip, no new version


def test_delta_schema_drift_raises(session):
    src = dc.read_values(session=session, id=[1], x=[5])
    delta_save(src, _double, "d_drift", delta_on="id")
    src2 = dc.read_values(session=session, id=[1, 2], x=[5, 6])
    with pytest.raises(SchemaDriftError):
        delta_save(src2, lambda ch: ch.mutate(other=C.x + 1), "d_drift", delta_on="id")


def test_delta_retry_error_rows(session):
    src = dc.read_values(session=session, id=[1, 2], x=[1, -1])

    def proc(ch):
        return ch.mutate(
            res=F.when(C.x.column > 0, C.x.column * 2),
            err=F.when(C.x.column < 0, F.lit("negative")),
        )

    delta_save(src, proc, "d_retry", delta_on="id")
    # fix the bad source row; no key change, but retry reprocesses error rows
    src2 = dc.read_values(session=session, id=[1, 2], x=[1, 7])
    out = delta_save(src2, proc, "d_retry", delta_on="id", delta_retry="err")
    recs = {r["id"]: r for r in out.to_records()}
    assert recs[2]["res"] == 14 and recs[2]["err"] is None


def test_checkpoint_save_reuses(session):
    ch = dc.read_values(session=session, x=[1, 2, 3]).filter(C.x > 1)
    out1 = checkpoint_save(ch, "cp1")
    out2 = checkpoint_save(ch, "cp1")  # identical plan -> reuse
    rec = session.metastore.get_record("cp1")
    assert len(rec.versions) == 1
    assert sorted(out2.to_values("x")) == [2, 3]
    # different plan -> new version
    checkpoint_save(ch.filter(C.x > 2), "cp1")
    assert len(session.metastore.get_record("cp1").versions) == 2


# ---------------------------------------------------------------------------
# r11 optimization: snapshot cost — pin-not-copy for dataset sources,
# keys+compare-only snapshots for raw sources (guide §2.3/§8: store keys
# and metadata, never the payload, when deciding what changed)
# ---------------------------------------------------------------------------


@pytest.fixture()
def fresh_ms(session, tmp_path):
    from datachain_spark.catalog.metastore import Metastore

    old = session.metastore
    session.metastore = Metastore(str(tmp_path / "ms"))
    yield session.metastore
    session.metastore = old


def test_delta_dataset_source_pins_no_snapshot(session, fresh_ms):
    """A read_dataset source must not be copied into __delta_source: the
    immutable version is pinned in the head's attrs instead."""
    dc.read_values(session=session, id=[1, 2], x=[10, 20]).save("dpin_src")
    out = delta_save(
        dc.read_dataset("dpin_src", session=session), _double,
        "dpin_out", delta_on="id",
    )
    assert sorted(out.to_list("id", "doubled")) == [(1, 20), (2, 40)]
    assert session.metastore.get_record("dpin_out__delta_source") is None
    head = session.metastore.get_record("dpin_out").latest_version()
    assert head.attrs["delta_source_dataset"] == "dpin_src"
    assert head.attrs["delta_source_version"] == "1.0.0"

    # upstream append -> incremental run diffs against the PINNED version
    dc.read_values(session=session, id=[1, 2, 3], x=[10, 99, 30]).save("dpin_src")
    out2 = delta_save(
        dc.read_dataset("dpin_src", session=session), _double,
        "dpin_out", delta_on="id",
    )
    assert sorted(out2.to_list("id", "doubled")) == [(1, 20), (2, 198), (3, 60)]
    assert session.metastore.get_record("dpin_out__delta_source") is None
    head2 = session.metastore.get_record("dpin_out").latest_version()
    assert head2.attrs["delta_source_version"] == "1.0.1"


def test_delta_pinned_source_deleted_rows_drop(session, fresh_ms):
    dc.read_values(session=session, id=[1, 2, 3], x=[1, 2, 3]).save("dpd_src")
    delta_save(dc.read_dataset("dpd_src", session=session), _double,
               "dpd_out", delta_on="id")
    dc.read_values(session=session, id=[1, 3], x=[1, 3]).save("dpd_src")
    out = delta_save(dc.read_dataset("dpd_src", session=session), _double,
                     "dpd_out", delta_on="id")
    assert sorted(out.to_values("id")) == [1, 3]


def test_delta_unchanged_pin_converges_with_zero_jobs(session, fresh_ms):
    """Same source version + same code -> the run must not launch a
    single Spark job (manifest reads only)."""
    dc.read_values(session=session, id=[1, 2], x=[5, 6]).save("dzj_src")
    delta_save(dc.read_dataset("dzj_src", session=session), _double,
               "dzj_out", delta_on="id")
    sc = session.spark.sparkContext
    sc.setJobGroup("dzj_converge", "unchanged pinned re-run")
    try:
        out = delta_save(dc.read_dataset("dzj_src", session=session),
                         _double, "dzj_out", delta_on="id")
        jobs = sc.statusTracker().getJobIdsForGroup("dzj_converge")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 0, f"converged pinned re-run launched {len(jobs)} jobs"
    assert len(session.metastore.get_record("dzj_out").versions) == 1
    assert sorted(out.to_list("id", "doubled")) == [(1, 10), (2, 12)]


def test_delta_vacuumed_pin_falls_back_to_full_run(session, fresh_ms):
    dc.read_values(session=session, id=[1, 2], x=[1, 2]).save("dvac_src")
    delta_save(dc.read_dataset("dvac_src", session=session), _double,
               "dvac_out", delta_on="id")
    dc.read_values(session=session, id=[2, 3], x=[9, 3]).save("dvac_src")
    # vacuum the pinned v1.0.0 away
    session.metastore.vacuum_dataset("dvac_src", keep_last=1)
    out = delta_save(dc.read_dataset("dvac_src", session=session), _double,
                     "dvac_out", delta_on="id")
    assert sorted(out.to_list("id", "doubled")) == [(2, 18), (3, 6)]


def test_delta_raw_source_snapshot_is_narrow(session, fresh_ms):
    """Raw-storage source + explicit delta_compare: the __delta_source
    snapshot must hold ONLY the key+compare columns (never the payload),
    and add/modify/delete must still resolve correctly against it."""
    src1 = dc.read_values(
        session=session, id=[1, 2, 3], v=[1, 2, 3],
        payload=["a" * 50, "b" * 50, "c" * 50],
    )
    delta_save(src1, lambda ch: ch.mutate(y=C.v * 10), "dnar_out",
               delta_on="id", delta_compare="v")
    snap = session.metastore.get_record("dnar_out__delta_source")
    assert snap is not None
    sv = snap.latest_version()
    assert sv.attrs["delta_snap_cols"] == "id,v"
    snap_df, _, _ = session.metastore.load_dataset(
        session.spark, "dnar_out__delta_source"
    )
    assert set(snap_df.columns) == {"id", "v"}

    # modify 2, delete 3, add 4
    src2 = dc.read_values(
        session=session, id=[1, 2, 4], v=[1, 99, 4],
        payload=["a" * 50, "B" * 50, "d" * 50],
    )
    out = delta_save(src2, lambda ch: ch.mutate(y=C.v * 10), "dnar_out",
                     delta_on="id", delta_compare="v")
    assert sorted(out.to_list("id", "y")) == [(1, 10), (2, 990), (4, 40)]


def test_delta_narrow_snapshot_compare_change_full_rerun(session, fresh_ms):
    """A narrow snapshot can only answer the compare it was written for:
    switching delta_compare to a column it lacks must fall back to one
    full (correct) reprocess, then record the new narrow snapshot."""
    src1 = dc.read_values(session=session, id=[1, 2], v=[1, 2], w=[7, 8])
    delta_save(src1, lambda ch: ch.mutate(y=C.v + C.w), "dsw_out",
               delta_on="id", delta_compare="v")
    src2 = dc.read_values(session=session, id=[1, 2], v=[1, 2], w=[7, 100])
    out = delta_save(src2, lambda ch: ch.mutate(y=C.v + C.w), "dsw_out",
                     delta_on="id", delta_compare="w")
    assert sorted(out.to_list("id", "y")) == [(1, 8), (2, 102)]
    sv = session.metastore.get_record(
        "dsw_out__delta_source"
    ).latest_version()
    assert sv.attrs["delta_snap_cols"] == "id,w"


def test_delta_pure_append_reuses_base_files(session, fresh_ms):
    """A pure-append incremental run must write ONLY the churn: the new
    head extends the base version (manifest reference), the base dir is
    untouched, and reads of head/base resolve to the right row sets."""
    import os

    src1 = dc.read_values(session=session, id=[1, 2], x=[10, 20])
    delta_save(src1, _double, "dap_out", delta_on="id")
    base = session.metastore.get_record("dap_out").latest_version()
    base_dir = session.metastore.version_data_path("dap_out", base.version)
    base_files = sorted(os.listdir(base_dir))
    base_mtime = os.path.getmtime(base_dir)

    src2 = dc.read_values(session=session, id=[1, 2, 3, 4], x=[10, 20, 30, 40])
    out = delta_save(src2, _double, "dap_out", delta_on="id")
    assert sorted(out.to_list("id", "doubled")) == [
        (1, 20), (2, 40), (3, 60), (4, 80)
    ]
    head = session.metastore.get_record("dap_out").latest_version()
    assert head.attrs["extends_version"] == base.version
    assert head.num_rows == 4
    # base dir untouched, churn dir holds only the appended rows
    assert sorted(os.listdir(base_dir)) == base_files
    assert os.path.getmtime(base_dir) == base_mtime
    churn_dir = session.metastore.version_data_path("dap_out", head.version)
    churn = session.spark.read.parquet(churn_dir)
    assert sorted(r["id"] for r in churn.select("id").collect()) == [3, 4]
    # the base version still reads as exactly its own rows
    old_df, _, _ = session.metastore.load_dataset(
        session.spark, "dap_out", base.version
    )
    assert old_df.count() == 2


def test_delta_append_chain_vacuum_protects_base(session, fresh_ms):
    import pytest as _pytest

    src1 = dc.read_values(session=session, id=[1], x=[1])
    delta_save(src1, _double, "dvp_out", delta_on="id")
    src2 = dc.read_values(session=session, id=[1, 2], x=[1, 2])
    delta_save(src2, _double, "dvp_out", delta_on="id")
    rec = session.metastore.get_record("dvp_out")
    assert len(rec.versions) == 2
    # vacuum keep_last=1 must NOT destroy the base the head references
    removed = session.metastore.vacuum_dataset("dvp_out", keep_last=1)
    assert removed == []
    out, _, _ = session.metastore.load_dataset(session.spark, "dvp_out")
    assert out.count() == 2
    # direct delete of the referenced base fails closed
    with _pytest.raises(ValueError, match="append base"):
        session.metastore.delete_dataset(
            "dvp_out", version=rec.versions[0].version
        )


def test_delta_append_chain_compacts_self_contained(session, fresh_ms):
    """compact_dataset folds an append chain into one self-contained
    copy; the old base then becomes vacuumable."""
    src1 = dc.read_values(session=session, id=[1, 2], x=[1, 2])
    delta_save(src1, _double, "dcc_out", delta_on="id")
    src2 = dc.read_values(session=session, id=[1, 2, 3], x=[1, 2, 3])
    delta_save(src2, _double, "dcc_out", delta_on="id")
    new_dv = session.metastore.compact_dataset(
        session.spark, "dcc_out", target_file_bytes=1 << 30
    )
    assert "extends_version" not in new_dv.attrs
    df, _, _ = session.metastore.load_dataset(
        session.spark, "dcc_out", new_dv.version
    )
    assert sorted(r["id"] for r in df.select("id").collect()) == [1, 2, 3]
    removed = session.metastore.vacuum_dataset("dcc_out", keep_last=1)
    assert len(removed) == 2
    out, _, _ = session.metastore.load_dataset(session.spark, "dcc_out")
    assert out.count() == 3


def test_delta_modified_rows_disable_append_mode(session, fresh_ms):
    """Any displaced key must fall back to the full rewrite (no
    extends_version) — a modified row in an append chain would be
    double-read otherwise."""
    src1 = dc.read_values(session=session, id=[1, 2], x=[1, 2])
    delta_save(src1, _double, "dmm_out", delta_on="id")
    src2 = dc.read_values(session=session, id=[1, 2, 3], x=[1, 99, 3])
    out = delta_save(src2, _double, "dmm_out", delta_on="id")
    head = session.metastore.get_record("dmm_out").latest_version()
    assert "extends_version" not in head.attrs
    assert sorted(out.to_list("id", "doubled")) == [(1, 2), (2, 198), (3, 6)]


class _Point(BaseModel):
    a: int
    b: str


def _points(session, ids, xs):
    return dc.read_values(
        session=session, id=ids, x=xs,
        pt=[_Point(a=i, b=str(i)) for i in ids],
    )


@pytest.mark.parametrize("by_reference", [True, False])
def test_delta_returns_signal_models(session, fresh_ms, by_reference):
    """A model-backed column comes back as model instances from every
    delta_save return: the full run, the by-reference write, the rewrite
    and the converged re-run."""
    name = f"dsm_out_{int(by_reference)}"
    ids = list(range(10))
    out = delta_save(_points(session, ids, ids), _double, name, delta_on="id")
    assert isinstance(next(out.to_iter("pt"))[0], _Point)
    xs = list(ids)
    if by_reference:
        xs[3] = 99  # one modified key of ten: tombstoned chain link
    else:
        xs = [-x for x in xs]  # every key modified: full rewrite
    src = _points(session, ids, xs)
    out = delta_save(src, _double, name, delta_on="id")
    head = session.metastore.get_record(name).latest_version()
    assert ("extends_version" in head.attrs) == by_reference
    assert all(isinstance(p, _Point) for p, in out.to_iter("pt"))
    assert out.signal_models == {"pt": _Point}
    out = delta_save(src, _double, name, delta_on="id")  # converged
    assert all(isinstance(p, BaseModel) for p, in out.to_iter("pt"))
