"""Index refresh through the delta path (r08 verdict task 4): an
incremental save keeps the zone map and the persisted IVF index current,
and the incremental IVF refresh is row-identical to a from-scratch
reassignment against the same centroids."""

import tempfile

import pytest
from pyspark.sql import functions as F

import datachain_spark as dc
from datachain_spark.delta import delta_save


@pytest.fixture()
def fresh_ms(session, tmp_path):
    """Swap in an isolated metastore for one test."""
    from datachain_spark.catalog.metastore import Metastore

    old = session.metastore
    session.metastore = Metastore(str(tmp_path / "ms"))
    yield session.metastore
    session.metastore = old


def _emb(session, sf_dir):
    return dc.read_parquet(
        f"{sf_dir}/embeddings.parquet", session=session
    ).mutate(embedding=F.col("embedding").cast("array<double>"))


def test_delta_save_refreshes_zone_index(session, sf_dir, fresh_ms):
    orders = dc.read_parquet(f"{sf_dir}/orders.parquet", session=session)
    v1 = orders.filter(dc.C("o_orderkey") % 3 != 0)

    def proc(ch):
        return ch.mutate(price2x=F.col("o_totalprice") * 2)

    kw = dict(zorder_by=["o_orderkey"], zorder_files=4,
              zone_index=["o_orderkey"])
    delta_save(v1, proc, "dz", "o_orderkey", save_kwargs=kw)
    rep1 = fresh_ms.prune_stats(
        session.spark, "dz", {"o_orderkey": (0, 5)}
    ).first()
    assert rep1["kept_files"] < rep1["total_files"]  # pruning is real

    # incremental run: the zone index follows the NEW version
    delta_save(orders, proc, "dz", "o_orderkey", save_kwargs=kw)
    hi = orders.df.agg(F.max("o_orderkey")).first()[0] // 4
    pruned = fresh_ms.read_pruned(
        session.spark, "dz", {"o_orderkey": (0, hi)}
    ).filter(F.col("o_orderkey") <= hi)
    want = orders.df.filter(F.col("o_orderkey") <= hi).count()
    assert pruned.count() == want  # no silently-skipped files
    rep2 = fresh_ms.prune_stats(
        session.spark, "dz", {"o_orderkey": (0, hi)}
    ).first()
    assert rep2["total_rows"] == orders.count()  # index covers v2
    assert rep2["kept_files"] < rep2["total_files"]


def test_ann_refresh_matches_from_scratch_reassignment(
    session, sf_dir, fresh_ms
):
    from datachain_spark.ops.similarity import assign_ivf_cells

    emb = _emb(session, sf_dir)
    v1 = emb.filter(dc.C("vec_id") % 4 != 0)
    v1.save("aidx")
    fresh_ms.ann_index_dataset(
        session.spark, "aidx", "vec_id", num_cells=4, kmeans_iters=1
    )
    _, cents_before, _ = fresh_ms._newest_ann_generation(
        session.spark, "aidx"
    )

    # new version: adds the vec_id % 4 == 0 rows
    emb.save("aidx")
    fresh_ms.ann_index_refresh(session.spark, "aidx", "vec_id")

    idx, cents_after = fresh_ms._load_ann_index(session.spark, "aidx", None)
    assert cents_after == cents_before  # quantizer reused verbatim

    # incremental refresh == full reassignment with the same centroids
    full = assign_ivf_cells(
        emb.df.select("vec_id", "embedding"), cents_before,
        "embedding", "cell",
    )
    got = {(r["vec_id"], r["cell"]) for r in
           idx.select("vec_id", "cell").collect()}
    want = {(r["vec_id"], r["cell"]) for r in
            full.select("vec_id", "cell").collect()}
    assert got == want


def test_ann_refresh_handles_modify_and_delete(session, sf_dir, fresh_ms):
    emb = _emb(session, sf_dir)
    base = emb.filter(dc.C("vec_id") < 40)
    base.save("amod")
    fresh_ms.ann_index_dataset(
        session.spark, "amod", "vec_id", num_cells=4, kmeans_iters=1
    )
    # v2: vec_id 0-4 get NEGATED vectors (modified), 35-39 disappear
    changed = base.df.filter(F.col("vec_id") < 35).withColumn(
        "embedding",
        F.when(
            F.col("vec_id") < 5,
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding")),
    )
    dc.DataChain(changed, session).save("amod")
    fresh_ms.ann_index_refresh(session.spark, "amod", "vec_id")
    idx, cents = fresh_ms._load_ann_index(session.spark, "amod", None)
    rows = idx.select("vec_id", "embedding", "cell").collect()
    ids = {r["vec_id"] for r in rows}
    assert ids == set(range(35))  # deletions dropped
    # modified vectors were re-assigned against the stored vectors
    from datachain_spark.ops.similarity import assign_ivf_cells

    want = {
        (r["vec_id"], r["cell"])
        for r in assign_ivf_cells(
            changed.select("vec_id", "embedding"), cents,
            "embedding", "cell",
        ).collect()
    }
    assert {(r["vec_id"], r["cell"]) for r in rows} == want


def test_ann_refresh_changed_keys_reuses_stored_assignments(
    session, sf_dir, fresh_ms
):
    """With changed_keys, rows NOT in the set must keep their STORED
    cells (no recomputation): tamper one stored assignment for an
    unchanged id and assert the tampered value survives the refresh —
    a refresh that silently reassigned everything would 'fix' it."""
    emb = _emb(session, sf_dir)
    base = emb.filter(dc.C("vec_id") < 20)
    base.save("akeys")
    fresh_ms.ann_index_dataset(
        session.spark, "akeys", "vec_id", num_cells=4, kmeans_iters=1
    )
    # tamper: force vec_id 7's stored cell to an impossible value
    idx, cents = fresh_ms._load_ann_index(session.spark, "akeys", None)
    tampered = idx.withColumn(
        "cell",
        F.when(F.col("vec_id") == 7, F.lit(99)).otherwise(F.col("cell")),
    )
    rec = fresh_ms.get_record("akeys__ivf")
    v = rec.latest_version()
    fresh_ms.save_dataset(
        tampered, "akeys__ivf", attrs=dict(v.attrs),
        bucket_by=["cell"], num_buckets=4,
    )
    base.save("akeys")  # new (identical) version
    ck = session.spark.createDataFrame([(1,)], "vec_id long")
    fresh_ms.ann_index_refresh(
        session.spark, "akeys", "vec_id", changed_keys=ck,
        changed_since="1.0.0",
    )
    idx2, _ = fresh_ms._load_ann_index(session.spark, "akeys", None)
    got7 = idx2.filter(F.col("vec_id") == 7).first()["cell"]
    assert got7 == 99  # stored assignment reused, not recomputed
    # the changed key WAS recomputed (a real cell, not tampered state)
    got1 = idx2.filter(F.col("vec_id") == 1).first()["cell"]
    assert 0 <= got1 < 4


def test_ann_refresh_falls_back_to_full_build(session, sf_dir, fresh_ms):
    emb = _emb(session, sf_dir)
    emb.save("afresh")
    dv = fresh_ms.ann_index_refresh(
        session.spark, "afresh", "vec_id", num_cells=4, kmeans_iters=1
    )
    assert dv.attrs["ivf_of"] == "afresh"
    idx, cents = fresh_ms._load_ann_index(session.spark, "afresh", None)
    assert len(cents) == 4
    assert idx.count() == emb.count()


def test_delta_save_bm25_index_end_to_end(session, sf_dir, fresh_ms):
    """delta_save(bm25_index=...) keeps the lexical index current: the
    refreshed-index search equals a direct bm25_score scan of the
    updated corpus."""
    from datachain_spark.ops.retrieval import bm25_score

    docs = dc.read_parquet(
        f"{sf_dir}/documents.parquet", session=session
    ).filter(dc.C("doc_id") < 150)
    v1 = docs.filter(dc.C("doc_id") % 3 != 0)
    bm = dict(id_col="doc_id")
    delta_save(v1, lambda ch: ch, "dbm", "doc_id",
               delta_compare="doc_id", bm25_index=bm)
    delta_save(docs, lambda ch: ch, "dbm", "doc_id",
               delta_compare="doc_id", bm25_index=bm)
    got = {
        r["doc_id"]: round(r["score"], 9)
        for r in fresh_ms.bm25_search(
            session.spark, "dbm", "spark window merge"
        ).collect()
    }
    want = {
        r["doc_id"]: round(r["score"], 9)
        for r in bm25_score(docs.df, "spark window merge", "doc_id").collect()
    }
    assert got == want


def test_flag_api_delta_with_indexes(session, sf_dir, fresh_ms):
    """The reference-style flag API (read_parquet(delta=True).save) carries
    zone/ann/bm25 index kwargs through to delta_save."""
    orders = dc.read_parquet(
        f"{sf_dir}/orders.parquet", session=session, delta=True,
        delta_on="o_orderkey",
    )
    out = orders.mutate(k2=dc.C("o_orderkey") * 2).save(
        "flagidx", zorder_by=["o_orderkey"], zorder_files=4,
        zone_index=["o_orderkey"],
    )
    assert out.count() > 0
    rep = fresh_ms.prune_stats(
        session.spark, "flagidx", {"o_orderkey": (0, 5)}
    ).first()
    assert rep["kept_files"] < rep["total_files"]


def test_compact_refreshes_linked_indexes(session, sf_dir, fresh_ms):
    """Compaction rewrites files: the zone map must be rebuilt on the new
    layout and the IVF index re-linked — the compacted version keeps the
    prune/search support its source had."""
    emb = _emb(session, sf_dir).mutate(vid=F.col("vec_id"))
    emb.save("cidx", zone_index=["vec_id"])
    fresh_ms.ann_index_dataset(
        session.spark, "cidx", "vec_id", num_cells=4, kmeans_iters=1
    )
    new_dv = fresh_ms.compact_dataset(
        session.spark, "cidx", target_file_bytes=1 << 30
    )
    # zone map answers against the compacted version
    rep = fresh_ms.prune_stats(
        session.spark, "cidx", {"vec_id": (0, 5)}, version=new_dv.version
    ).first()
    assert rep["total_files"] >= 1 and rep["total_rows"] == emb.count()
    # IVF re-link: search the compacted version, assignments unchanged
    idx_new, cents_new = fresh_ms._load_ann_index(
        session.spark, "cidx", new_dv.version
    )
    idx_old, cents_old = fresh_ms._load_ann_index(session.spark, "cidx", "1.0.0")
    assert cents_new == cents_old
    assert (
        {(r["vec_id"], r["cell"]) for r in idx_new.collect()}
        == {(r["vec_id"], r["cell"]) for r in idx_old.collect()}
    )
    # opt-out keeps the old behavior: no index for the new version
    from datachain_spark.error import DatasetNotFoundError

    dv2 = fresh_ms.compact_dataset(
        session.spark, "cidx", version=new_dv.version,
        target_file_bytes=1 << 30, refresh_indexes=False,
    )
    with pytest.raises(DatasetNotFoundError):
        fresh_ms.prune_stats(
            session.spark, "cidx", {"vec_id": (0, 5)}, version=dv2.version
        )


def test_vacuum_gcs_indexes_keeps_profiles(session, sf_dir, fresh_ms):
    """Vacuuming a data version removes its (now useless) zone/IVF/BM25
    index versions but KEEPS its profile — the release gate answers
    about vacuumed history from sketch state."""
    from datachain_spark.ops.release import profile_version, release_report

    orders = dc.read_parquet(f"{sf_dir}/orders.parquet", session=session)
    cfg = dict(group_cols="o_orderpriority", value_col="o_totalprice",
               lo=0.0, hi=600000.0, bins=64, session=session)
    for flt in (dc.C("o_orderkey") % 3 != 0, dc.C("o_orderkey") >= 0):
        orders.filter(flt).save("vgc", zone_index=["o_orderkey"])
        profile_version("vgc", **cfg)
    removed = fresh_ms.vacuum_dataset("vgc", keep_last=1)
    assert removed == ["1.0.0"]
    # the vacuumed version's zone index is gone...
    zrec = fresh_ms.get_record("vgc__zones")
    assert all(
        v.attrs.get("zones_of_version") != "1.0.0" for v in zrec.versions
    )
    # ...the surviving version's index still answers...
    rep = fresh_ms.prune_stats(
        session.spark, "vgc", {"o_orderkey": (0, 5)}
    ).first()
    assert rep["total_files"] >= 1
    # ...and the release report still compares v2 against VACUUMED v1
    rows = release_report("vgc", v_old="1.0.0").collect()
    assert rows and all(r["n_rows_new"] >= r["n_rows_old"] for r in rows)


def test_delta_save_ann_index_end_to_end(session, sf_dir, fresh_ms):
    """delta_save(ann_index=...) keeps the searchable index current:
    full-probe search after the incremental run equals brute force over
    the updated corpus."""
    from datachain_spark.ops.similarity import cosine_topk

    emb = _emb(session, sf_dir)
    v1 = emb.filter(dc.C("vec_id") % 4 != 0)

    def proc(ch):
        return ch

    ann = dict(id_col="vec_id", num_cells=4, kmeans_iters=1)
    delta_save(v1, proc, "de2e", "vec_id", delta_compare="vec_id",
               ann_index=ann)
    gen1 = fresh_ms._newest_ann_generation(session.spark, "de2e")
    assert gen1 is not None
    delta_save(emb, proc, "de2e", "vec_id", delta_compare="vec_id",
               ann_index=ann)
    gen2 = fresh_ms._newest_ann_generation(session.spark, "de2e")
    assert gen2[2] != gen1[2]  # index follows the new version
    assert gen2[1] == gen1[1]  # centroids reused

    qv = [float(x) for x in
          emb.df.filter(F.col("vec_id") == 1).first()["embedding"]]
    got = fresh_ms.ann_search(
        session.spark, "de2e", qv, k=5, n_probe=4, id_cols=["vec_id"]
    ).select("vec_id").collect()
    want = cosine_topk(emb.df, qv, k=5, id_cols=["vec_id"]).select(
        "vec_id"
    ).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]


def test_ann_refresh_changed_keys_requires_changed_since(
    session, sf_dir, fresh_ms
):
    """changed_keys without changed_since is unsound (an incomplete key
    set would silently keep stale assignments) — the API refuses it."""
    emb = _emb(session, sf_dir)
    emb.filter(dc.C("vec_id") < 20).save("areq")
    fresh_ms.ann_index_dataset(
        session.spark, "areq", "vec_id", num_cells=4, kmeans_iters=1
    )
    emb.filter(dc.C("vec_id") < 25).save("areq")
    ck = session.spark.createDataFrame([(21,)], "vec_id long")
    with pytest.raises(ValueError, match="changed_since"):
        fresh_ms.ann_index_refresh(
            session.spark, "areq", "vec_id", changed_keys=ck
        )


def test_ivf_attrs_carry_id_and_vec_cols(session, sf_dir, fresh_ms):
    """id/vec column names are stamped in the index attrs at build time —
    compaction's carry-over reads them instead of guessing from the
    schema (which fails with composite ids)."""
    emb = _emb(session, sf_dir).mutate(extra_id=F.col("vec_id") + 1)
    emb.save("attrd")
    fresh_ms.ann_index_dataset(
        session.spark, "attrd", "vec_id", num_cells=4, kmeans_iters=1
    )
    rec = fresh_ms.get_record("attrd__ivf")
    v = rec.latest_version()
    assert v.attrs["ivf_id_col"] == "vec_id"
    assert v.attrs["ivf_vec_col"] == "embedding"


def test_compact_warns_when_ivf_cols_uninferrable(session, sf_dir, fresh_ms):
    """A legacy index (no stamped attrs) whose schema has two candidate id
    columns can't be carried over — the compaction must WARN, not
    silently drop ann_search support."""
    import warnings

    emb = _emb(session, sf_dir).filter(dc.C("vec_id") < 20)
    emb.save("legacy")
    dv = fresh_ms.ann_index_dataset(
        session.spark, "legacy", "vec_id", num_cells=4, kmeans_iters=1
    )
    # strip the stamped column attrs and add a second id-like column,
    # simulating an index built before the attrs existed
    idx, _, _ = fresh_ms.load_dataset(session.spark, "legacy__ivf")
    rec = fresh_ms.get_record("legacy__ivf")
    v = rec.latest_version()
    attrs = {k: val for k, val in v.attrs.items()
             if k not in ("ivf_id_col", "ivf_vec_col")}
    fresh_ms.save_dataset(
        idx.withColumn("vec_id2", F.col("vec_id")), "legacy__ivf",
        attrs=attrs, bucket_by=["cell"], num_buckets=4,
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        fresh_ms.compact_dataset(
            session.spark, "legacy", target_file_bytes=1 << 30
        )
    assert any("ann_search" in str(w.message) for w in caught)
    _ = dv


def test_gram_index_refresh_carries_unchanged_postings(
    session, sf_dir, fresh_ms
):
    """Unchanged documents keep their STORED posting rows (never
    re-shingled): tamper one stored posting of an unchanged doc and the
    tampered row must survive the refresh."""
    docs = dc.read_parquet(
        f"{sf_dir}/documents.parquet", session=session
    ).filter(dc.C("doc_id") < 100).select("doc_id", "text")
    docs.save("gcarry")
    fresh_ms.gram_index_dataset(session.spark, "gcarry", "doc_id")
    idx, _, _ = fresh_ms.load_dataset(session.spark, "gcarry__grams")
    rec = fresh_ms.get_record("gcarry__grams")
    v = rec.latest_version()
    bogus = session.spark.createDataFrame(
        [(7, -12345)], "doc_id long, ngram_hash long"
    )
    fresh_ms.save_dataset(
        idx.unionByName(bogus), "gcarry__grams", attrs=dict(v.attrs),
        bucket_by=["ngram_hash"], num_buckets=16,
    )
    # v2 appends docs 100-119; doc 7 is untouched
    dc.read_parquet(
        f"{sf_dir}/documents.parquet", session=session
    ).filter(dc.C("doc_id") < 120).select("doc_id", "text").save("gcarry")
    fresh_ms.gram_index_refresh(session.spark, "gcarry")
    idx2, _, _ = fresh_ms.load_dataset(session.spark, "gcarry__grams")
    assert idx2.filter(
        (F.col("doc_id") == 7) & (F.col("ngram_hash") == -12345)
    ).count() == 1  # carried, not recomputed


def test_gram_index_refresh_handles_modify_and_delete(
    session, sf_dir, fresh_ms
):
    """Refreshed index == from-scratch rebuild after modify+delete churn."""
    from datachain_spark.ops.text import substring_index

    docs = dc.read_parquet(
        f"{sf_dir}/documents.parquet", session=session
    ).filter(dc.C("doc_id") < 60).select("doc_id", "text")
    docs.save("gmod")
    fresh_ms.gram_index_dataset(session.spark, "gmod", "doc_id")
    v2 = docs.df.filter(F.col("doc_id") < 50).withColumn(
        "text",
        F.when(
            F.col("doc_id") < 5,
            F.concat(F.lit("totally new words here now "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    dc.DataChain(v2, session).save("gmod")
    fresh_ms.gram_index_refresh(session.spark, "gmod")
    idx, _, _ = fresh_ms.load_dataset(session.spark, "gmod__grams")
    got = {(r["doc_id"], r["ngram_hash"]) for r in idx.collect()}
    want = {
        (r["doc_id"], r["ngram_hash"])
        for r in substring_index(v2, "doc_id").collect()
    }
    assert got == want


def test_delta_save_gram_index_end_to_end(session, sf_dir, fresh_ms):
    """delta_save(gram_index=...) keeps the phrase-search index current:
    find_substring through the metastore equals a direct probe of a
    fresh index over the updated corpus."""
    from datachain_spark.ops.text import find_substring, substring_index

    docs = dc.read_parquet(
        f"{sf_dir}/documents.parquet", session=session
    ).filter(dc.C("doc_id") < 150).select("doc_id", "text")
    v1 = docs.filter(dc.C("doc_id") % 3 != 0)
    gi = dict(id_col="doc_id")
    delta_save(v1, lambda ch: ch, "dgr", "doc_id",
               delta_compare="doc_id", gram_index=gi)
    delta_save(docs, lambda ch: ch, "dgr", "doc_id",
               delta_compare="doc_id", gram_index=gi)
    words = (
        docs.df.filter(F.col("doc_id") == 3)
        .select(F.split(F.trim(F.regexp_replace(
            F.lower(F.col("text")), r"[^\w\s]", "")), r"\s+").alias("w"))
        .first()["w"]
    )
    needle = " ".join(words[0:4])
    got = {
        (r["doc_id"], r["pos"])
        for r in fresh_ms.find_substring(session.spark, "dgr", needle).collect()
    }
    want = {
        (r["doc_id"], r["pos"])
        for r in find_substring(
            docs.df, substring_index(docs.df, "doc_id"), needle, "doc_id"
        ).collect()
    }
    assert got == want and got


def test_delta_save_profile_increment_and_churn(session, sf_dir, fresh_ms):
    """profile= through delta_save: a pure-append run takes the
    increment-merge path; churn (modified keys) forces a full
    re-profile; either way the stored profile is row-identical to
    profiling the whole version from scratch."""
    from datachain_spark.ops import release as release_mod
    from datachain_spark.ops.release import release_report
    from datachain_spark.ops.sketches import profile_sketch

    calls = []
    real = release_mod.profile_version

    def spy(name, *a, **kw):
        calls.append(kw.get("increment") is not None)
        return real(name, *a, **kw)

    orders = dc.read_parquet(f"{sf_dir}/orders.parquet", session=session)
    cfg = dict(group_cols="o_orderpriority", value_col="o_totalprice",
               lo=0.0, hi=600000.0, bins=32)

    import unittest.mock as mock
    with mock.patch.object(release_mod, "profile_version", side_effect=spy):
        # run 1: full profile; run 2: pure append -> increment path
        delta_save(orders.filter(dc.C("o_orderkey") % 3 == 1),
                   lambda ch: ch, "dprof", "o_orderkey",
                   delta_compare="o_orderkey", profile=cfg)
        delta_save(orders.filter(dc.C("o_orderkey") % 3 != 0),
                   lambda ch: ch, "dprof", "o_orderkey",
                   delta_compare="o_orderkey", profile=cfg)
    assert calls == [False, True]

    def _stored_profile():
        df, _, _ = fresh_ms.load_dataset(session.spark, "dprof__profile")
        return {
            r["o_orderpriority"]:
            (r["n_rows"], r["n_value"], round(r["sum_x"], 6),
             r["min_x"], r["max_x"], tuple(r["hist"]))
            for r in df.collect()
        }

    def _truth(chain):
        return {
            r["o_orderpriority"]:
            (r["n_rows"], r["n_value"], round(r["sum_x"], 6),
             r["min_x"], r["max_x"], tuple(r["hist"]))
            for r in profile_sketch(
                chain.df, ["o_orderpriority"], value_col="o_totalprice",
                lo=0.0, hi=600000.0, bins=32,
            ).collect()
        }

    assert _stored_profile() == _truth(
        orders.filter(dc.C("o_orderkey") % 3 != 0)
    )

    # run 3: MODIFY existing keys (totalprice doubled on %3==1 rows) ->
    # the increment path would double-count; the wiring must re-profile
    churned = orders.mutate(
        o_totalprice=F.when(
            dc.C("o_orderkey") % 3 == 1, F.col("o_totalprice") * 0.5
        ).otherwise(F.col("o_totalprice"))
    ).filter(dc.C("o_orderkey") % 3 != 0)
    calls.clear()
    with mock.patch.object(release_mod, "profile_version", side_effect=spy):
        delta_save(churned, lambda ch: ch, "dprof", "o_orderkey",
                   delta_compare="o_totalprice", profile=cfg)
    assert calls == [False]  # full re-profile, not increment
    assert _stored_profile() == _truth(churned)

    # the release gate reads the delta-maintained profiles directly
    rep = release_report("dprof", session=session)
    assert rep.count() > 0


def test_delta_zero_change_builds_missing_zone_index(
    session, sf_dir, fresh_ms
):
    """Adding zone_index= to an ALREADY-CONVERGED delta pipeline must
    build the missing zone map on the no-op run (not leave
    read_dataset(prune=...) raising until the next real change)."""
    orders = dc.read_parquet(f"{sf_dir}/orders.parquet", session=session)

    def proc(ch):
        return ch.mutate(k2=F.col("o_orderkey") * 2)

    delta_save(orders, proc, "dzc", "o_orderkey")
    # converged run, zone_index newly requested
    kw = dict(zone_index=["o_orderkey"])
    delta_save(orders, proc, "dzc", "o_orderkey", save_kwargs=kw)
    rep = fresh_ms.prune_stats(
        session.spark, "dzc", {"o_orderkey": (0, 5)}
    ).first()
    assert rep["total_rows"] == orders.count()


def test_delta_zero_change_catches_up_profile_and_grams(
    session, sf_dir, fresh_ms
):
    """profile=/gram_index= newly requested on a converged pipeline are
    built on the no-op run."""
    docs = dc.read_parquet(
        f"{sf_dir}/documents.parquet", session=session
    ).filter(dc.C("doc_id") < 80).select("doc_id", "text")
    delta_save(docs, lambda ch: ch, "dcz", "doc_id",
               delta_compare="doc_id")
    cfg = dict(group_cols=None, value_col="doc_id",
               lo=0.0, hi=100.0, bins=8)
    delta_save(docs, lambda ch: ch, "dcz", "doc_id",
               delta_compare="doc_id", profile=cfg,
               gram_index=dict(id_col="doc_id"))
    pdf, _, _ = fresh_ms.load_dataset(session.spark, "dcz__profile")
    assert pdf.count() == 1
    gen = fresh_ms._newest_grams_generation(session.spark, "dcz")
    assert gen is not None and gen[1] is not None


def test_flag_api_delta_gram_and_profile(session, sf_dir, fresh_ms, tmp_path):
    """The reference-style flag API (read_parquet(delta=True)) carries
    gram_index= and profile= through to delta_save: the SAME recorded
    chain re-runs as the source file grows, and both the gram index and
    the release-gate profile follow each incremental save."""
    from datachain_spark.ops.release import release_report

    src = str(tmp_path / "docs_src")
    full = dc.read_parquet(
        f"{sf_dir}/documents.parquet", session=session
    ).df.select("doc_id", "text")

    def _read():
        return dc.read_parquet(
            src, session=session, delta=True,
            delta_on="doc_id", delta_compare="doc_id",
        )

    cfg = dict(group_cols=None, value_col="doc_id", lo=0.0, hi=600.0,
               bins=8)
    gi = dict(id_col="doc_id")
    full.filter(F.col("doc_id") < 300).write.mode("overwrite").parquet(src)
    _read().save("flaggp", gram_index=gi, profile=cfg)
    full.write.mode("overwrite").parquet(src)
    _read().save("flaggp", gram_index=gi, profile=cfg)
    gen = fresh_ms._newest_grams_generation(session.spark, "flaggp")
    rec = fresh_ms.get_record("flaggp")
    assert gen[2]["grams_of_version"] == rec.latest_version().version
    rows = release_report("flaggp", session=session).collect()
    assert len(rows) == 1 and rows[0]["n_rows_new"] > rows[0]["n_rows_old"]

    # stray delta kwargs without delta=True fail loudly instead of
    # falling through to the Spark reader as unknown options
    with pytest.raises(ValueError, match="delta=True"):
        dc.read_parquet(src, session=session, delta_on="doc_id")
    with pytest.raises(ValueError, match="requires delta_on"):
        dc.read_parquet(src, session=session, delta=True)


def test_delta_profile_config_change_falls_back_to_full(
    session, sf_dir, fresh_ms
):
    """Changing the profile config between delta runs must NOT take the
    increment-merge path (the stored base has different edges) — the
    wiring re-profiles in full instead of crashing mid-save."""
    from datachain_spark.ops.release import _profile_for

    orders = dc.read_parquet(f"{sf_dir}/orders.parquet", session=session)
    cfg32 = dict(group_cols="o_orderpriority", value_col="o_totalprice",
                 lo=0.0, hi=600000.0, bins=32)
    delta_save(orders.filter(dc.C("o_orderkey") % 3 == 1), lambda ch: ch,
               "dcfg", "o_orderkey", delta_compare="o_orderkey",
               profile=cfg32)
    # pure append + NEW config: must fall back to a full re-profile
    delta_save(orders.filter(dc.C("o_orderkey") % 3 != 0), lambda ch: ch,
               "dcfg", "o_orderkey", delta_compare="o_orderkey",
               profile=dict(cfg32, bins=64))
    rec = fresh_ms.get_record("dcfg")
    prof, attrs = _profile_for(session, "dcfg",
                               rec.latest_version().version)
    assert attrs["profile_bins"] == "64"
    n = prof.agg(F.sum("n_rows")).first()[0]
    assert n == orders.filter(dc.C("o_orderkey") % 3 != 0).count()


def test_compact_carries_bm25_gram_profile(session, sf_dir, fresh_ms):
    """Compaction re-links ALL per-version state: BM25 and gram indexes
    (zero-churn refresh) and the stored profile (sketches are row-level
    state) — search and release_report keep answering for the compacted
    head."""
    from datachain_spark.ops.release import profile_version, release_report

    docs = dc.read_parquet(
        f"{sf_dir}/documents.parquet", session=session
    ).filter(dc.C("doc_id") < 120).select("doc_id", "text")
    docs.filter(dc.C("doc_id") < 80).save("callst")
    profile_version("callst", group_cols=None, value_col="doc_id",
                    lo=0.0, hi=200.0, bins=8)
    docs.save("callst")
    fresh_ms.bm25_index_dataset(session.spark, "callst", "doc_id")
    fresh_ms.gram_index_dataset(session.spark, "callst", "doc_id")
    profile_version("callst", group_cols=None, value_col="doc_id",
                    lo=0.0, hi=200.0, bins=8)
    before_bm25 = {
        (r["doc_id"], round(r["score"], 9))
        for r in fresh_ms.bm25_search(
            session.spark, "callst", "spark window merge"
        ).collect()
    }
    new_dv = fresh_ms.compact_dataset(
        session.spark, "callst", target_file_bytes=1 << 30
    )
    after_bm25 = {
        (r["doc_id"], round(r["score"], 9))
        for r in fresh_ms.bm25_search(
            session.spark, "callst", "spark window merge",
            version=new_dv.version,
        ).collect()
    }
    assert after_bm25 == before_bm25 and after_bm25
    words = (
        docs.df.filter(F.col("doc_id") == 1)
        .select(F.split(F.trim(F.regexp_replace(
            F.lower("text"), r"[^\w\s]", "")), r"\s+").alias("w"))
        .first()["w"]
    )
    hits = fresh_ms.find_substring(
        session.spark, "callst", " ".join(words[:3]),
        version=new_dv.version,
    ).count()
    assert hits >= 1
    # profile re-linked: the report compares the compacted head against
    # the previous profiled version
    rows = release_report("callst", v_new=new_dv.version,
                          session=session).collect()
    assert rows and rows[0]["n_rows_new"] == docs.count()


def test_delta_save_compact_target_bytes(session, sf_dir, fresh_ms):
    """OPTIMIZE through the delta path: a fragmented incremental save is
    compacted in the same pass, the checkpoint stamp lands on the
    compacted head (next run no-ops), and the zone index answers for
    the compacted version."""
    import os

    orders = dc.read_parquet(
        f"{sf_dir}/orders.parquet", session=session
    ).filter(dc.C("o_orderkey") % 4 == 1)

    def proc(ch):
        return ch.mutate(x2=F.col("o_orderkey") * 2)

    kw = dict(zorder_by=["o_orderkey"], zorder_files=8,
              zone_index=["o_orderkey"])
    delta_save(orders.filter(dc.C("o_orderkey") < 3000), proc, "dcpt",
               "o_orderkey", save_kwargs=kw,
               compact_target_bytes=1 << 30)
    delta_save(orders, proc, "dcpt", "o_orderkey", save_kwargs=kw,
               compact_target_bytes=1 << 30)
    rec = fresh_ms.get_record("dcpt")
    head = rec.latest_version()
    assert head.attrs.get("compacted_from")  # maintenance ran
    data_path = fresh_ms.version_data_path("dcpt", head.version)
    files = [f for f in os.listdir(data_path) if f.endswith(".parquet")]
    assert len(files) == 1  # 8 zorder files -> 1 at the 1 GiB target
    df, _, _ = fresh_ms.load_dataset(session.spark, "dcpt")
    assert df.count() == orders.count()
    # zone index follows the compacted head
    rep = fresh_ms.prune_stats(
        session.spark, "dcpt", {"o_orderkey": (0, 5)}
    ).first()
    assert rep["total_rows"] == orders.count()
    # checkpoint honored: a third identical run creates NO new version
    n_before = len(rec.versions)
    delta_save(orders, proc, "dcpt", "o_orderkey", save_kwargs=kw,
               compact_target_bytes=1 << 30)
    assert len(fresh_ms.get_record("dcpt").versions) == n_before


def test_compact_old_version_refuses_to_shadow_head(session, sf_dir, fresh_ms):
    """Compacting an old snapshot whose patch-bumped copy would sort PAST
    a newer release must refuse loudly — a silent head-shadowing copy
    would invert every default read and release comparison."""
    orders = dc.read_parquet(f"{sf_dir}/orders.parquet", session=session)
    orders.filter(dc.C("o_orderkey") % 3 == 0).save("shad")   # 1.0.0
    orders.save("shad")                                        # 1.0.1
    with pytest.raises(ValueError, match="shadow"):
        fresh_ms.compact_dataset(
            session.spark, "shad", version="1.0.0",
            target_file_bytes=1 << 30,
        )
    # the head itself still compacts fine
    dv = fresh_ms.compact_dataset(
        session.spark, "shad", target_file_bytes=1 << 30
    )
    assert dv.attrs["compacted_from"] == "1.0.1"
    assert fresh_ms.get_record("shad").latest_version().version == dv.version


def test_compact_carries_superseded_bm25_generation(session, sf_dir, fresh_ms):
    """Carrying BM25/gram state matches generations PER VERSION: an older
    version with its own (superseded) generation keeps search support on
    its compacted copy even when the NEWEST generation belongs to a
    later version."""
    docs = dc.read_parquet(
        f"{sf_dir}/documents.parquet", session=session
    ).filter(dc.C("doc_id") < 90).select("doc_id", "text")
    docs.filter(dc.C("doc_id") < 60).save("super")            # 1.0.0
    fresh_ms.bm25_index_dataset(session.spark, "super", "doc_id")
    docs.save("super")                                         # 1.0.1
    fresh_ms.bm25_index_refresh(session.spark, "super")  # newest gen -> 1.0.1
    # compact 1.0.0: patch slot 1.0.2 would shadow -> must raise; so
    # exercise the per-version carry by compacting a THIRD version whose
    # own generation is then superseded
    docs.filter(dc.C("doc_id") < 80).save("super")            # 1.0.2
    fresh_ms.bm25_index_refresh(session.spark, "super")  # gen -> 1.0.2
    docs.save("super")                                         # 1.0.3
    fresh_ms.bm25_index_refresh(session.spark, "super")  # gen -> 1.0.3 (newest)
    # 1.0.2's generation is superseded by 1.0.3's; compacting the HEAD
    # first requires no slot... compact 1.0.3 (the head) — newest gen is
    # its own; for the superseded case, drop back to 1.0.2 via a fresh
    # name: simpler — delete 1.0.3 so 1.0.2 is head with a superseded gen
    fresh_ms.delete_dataset("super", version="1.0.3")
    new_dv = fresh_ms.compact_dataset(
        session.spark, "super", version="1.0.2", target_file_bytes=1 << 30
    )
    got = fresh_ms.bm25_search(
        session.spark, "super", "spark window merge",
        version=new_dv.version,
    ).count()
    assert got >= 1  # carried despite the newest generation mismatch


def test_delta_zero_change_compaction_catch_up(session, sf_dir, fresh_ms):
    """Enabling compact_target_bytes on an ALREADY-CONVERGED pipeline
    compacts the fragmented head on the no-op run and re-stamps the job
    hash so the following run still no-ops."""
    orders = dc.read_parquet(
        f"{sf_dir}/orders.parquet", session=session
    ).filter(dc.C("o_orderkey") % 4 == 1)

    def proc(ch):
        return ch.mutate(x2=F.col("o_orderkey") * 2)

    kw = dict(zorder_by=["o_orderkey"], zorder_files=8)
    delta_save(orders, proc, "dzcc", "o_orderkey", save_kwargs=kw)
    # converged run, compaction newly requested
    delta_save(orders, proc, "dzcc", "o_orderkey", save_kwargs=kw,
               compact_target_bytes=1 << 30)
    rec = fresh_ms.get_record("dzcc")
    head = rec.latest_version()
    assert head.attrs.get("compacted_from") == "1.0.0"
    n_before = len(rec.versions)
    # next converged run: checkpoint honored on the compacted head
    delta_save(orders, proc, "dzcc", "o_orderkey", save_kwargs=kw,
               compact_target_bytes=1 << 30)
    assert len(fresh_ms.get_record("dzcc").versions) == n_before


def test_delta_profile_increment_pins_base_version(session, sf_dir, fresh_ms):
    """A manual profile_version BACKFILL of an older version between delta
    runs must not become the increment's merge base: the increment folds
    into the profile of the version the run actually diffed from
    (base_version pin), so the stored head profile stays row-identical to
    a from-scratch profile."""
    from datachain_spark.ops.release import _profile_for, profile_version
    from datachain_spark.ops.sketches import profile_sketch

    orders = dc.read_parquet(f"{sf_dir}/orders.parquet", session=session)
    cfg = dict(group_cols="o_orderpriority", value_col="o_totalprice",
               lo=0.0, hi=600000.0, bins=32)
    delta_save(orders.filter(dc.C("o_orderkey") % 4 == 1),
               lambda ch: ch, "dbase", "o_orderkey",
               delta_compare="o_orderkey", profile=cfg)           # 1.0.0
    delta_save(orders.filter(dc.C("o_orderkey") % 4 <= 1),
               lambda ch: ch, "dbase", "o_orderkey",
               delta_compare="o_orderkey", profile=cfg)           # 1.0.1
    # backfill: re-profile the OLD version — it becomes the NEWEST stored
    # profile, which an unpinned increment would silently merge into
    profile_version("dbase", version="1.0.0", **cfg)
    delta_save(orders.filter(dc.C("o_orderkey") % 4 <= 2),
               lambda ch: ch, "dbase", "o_orderkey",
               delta_compare="o_orderkey", profile=cfg)           # 1.0.2

    head = fresh_ms.get_record("dbase").latest_version()
    stored, _ = _profile_for(session, "dbase", head.version)
    truth = profile_sketch(
        orders.filter(dc.C("o_orderkey") % 4 <= 2).df,
        ["o_orderpriority"], value_col="o_totalprice",
        lo=0.0, hi=600000.0, bins=32,
    )
    s = {r["o_orderpriority"]: (r["n_rows"], r["n_value"], tuple(r["hist"]))
         for r in stored.collect()}
    t = {r["o_orderpriority"]: (r["n_rows"], r["n_value"], tuple(r["hist"]))
         for r in truth.collect()}
    assert s == t


def test_profile_version_base_version_requires_stored_profile(
    session, sf_dir, fresh_ms
):
    from datachain_spark.ops.release import profile_version

    orders = dc.read_parquet(f"{sf_dir}/orders.parquet", session=session)
    orders.filter(dc.C("o_orderkey") % 3 == 1).save("dbv")
    profile_version("dbv", group_cols="o_orderpriority",
                    distinct_col="o_custkey")
    orders.save("dbv")
    with pytest.raises(ValueError, match="base_version"):
        profile_version(
            "dbv", group_cols="o_orderpriority", distinct_col="o_custkey",
            increment=orders.df.limit(1), base_version="9.9.9",
        )


def test_delta_profile_increment_reads_saved_rows(session, sf_dir, fresh_ms):
    """A NONDETERMINISTIC process() (rand column) must not corrupt the
    incremental profile: the increment is sketched from the SAVED head's
    rows, never from a re-evaluation of the lazy processed plan — the
    stored profile always describes the rows actually persisted."""
    from datachain_spark.ops.release import _profile_for

    orders = dc.read_parquet(f"{sf_dir}/orders.parquet", session=session)
    cfg = dict(group_cols=None, value_col="val", lo=0.0, hi=1.0, bins=16)

    def proc(ch):
        return ch.select("o_orderkey").mutate(val=F.rand())

    delta_save(orders.filter(dc.C("o_orderkey") % 3 == 1), proc,
               "dnd", "o_orderkey", delta_compare="o_orderkey", profile=cfg)
    delta_save(orders.filter(dc.C("o_orderkey") % 3 != 0), proc,
               "dnd", "o_orderkey", delta_compare="o_orderkey", profile=cfg)

    head_df, _, head_v = fresh_ms.load_dataset(session.spark, "dnd")
    stored, _ = _profile_for(session, "dnd", head_v.version)
    row = stored.collect()[0]
    truth = head_df.agg(
        F.count("*").alias("n"), F.sum("val").alias("s")
    ).first()
    assert row["n_rows"] == truth["n"]
    assert row["sum_x"] == pytest.approx(truth["s"], rel=1e-9)


def test_delta_profile_append_run_job_budget(session, sf_dir, fresh_ms):
    """The profiled append run must not re-run the corpus-sized subtract
    for its append-only check (r10 verdict task 3): the cached key
    projections + the saved-head increment keep the run inside a fixed
    Spark-job budget — measured 41 jobs after the fix vs 50 before it
    (the kept.count()/n_deleted subtract re-runs and the re-evaluated
    processed-plan profile each burned extra corpus-sized jobs). r11
    trims: the append fast path (write churn only) took it to 29, and
    riding every save's row count on the write job itself
    (CollectMetrics via df.observe instead of a post-write footer
    count) to 20."""
    sc = session.spark.sparkContext
    orders = dc.read_parquet(f"{sf_dir}/orders.parquet", session=session)
    cfg = dict(group_cols="o_orderpriority", value_col="o_totalprice",
               lo=0.0, hi=600000.0, bins=16)
    delta_save(orders.filter(dc.C("o_orderkey") % 3 == 1),
               lambda ch: ch, "djob", "o_orderkey",
               delta_compare="o_orderkey", profile=cfg)
    sc.setJobGroup("djob_append", "profiled append run")
    try:
        delta_save(orders.filter(dc.C("o_orderkey") % 3 != 0),
                   lambda ch: ch, "djob", "o_orderkey",
                   delta_compare="o_orderkey", profile=cfg)
        jobs = sc.statusTracker().getJobIdsForGroup("djob_append")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(jobs) <= 24, f"append run used {len(jobs)} jobs"


def test_delta_retry_by_reference_profile_increment(
    session, sf_dir, fresh_ms
):
    """delta_retry=True on the by-reference path: keys the previous run
    left out of the result come back as churn. Nothing is displaced, so
    the profile merges the churn increment — and the merged profile must
    equal a full re-profile of the new head."""
    import unittest.mock as mock

    from datachain_spark.ops import release as release_mod
    from datachain_spark.ops.sketches import profile_sketch

    calls = []
    real = release_mod.profile_version

    def spy(name, *a, **kw):
        calls.append(kw.get("increment") is not None)
        return real(name, *a, **kw)

    orders = dc.read_parquet(f"{sf_dir}/orders.parquet", session=session)
    key = dc.C("o_orderkey")
    cfg = dict(group_cols="o_orderpriority", value_col="o_totalprice",
               lo=0.0, hi=600000.0, bins=32)
    with mock.patch.object(release_mod, "profile_version", side_effect=spy):
        # run 1 leaves every 11th key out of the result
        delta_save(orders.filter(key % 3 != 0),
                   lambda ch: ch.filter(dc.C("o_orderkey") % 11 != 0),
                   "dretry", "o_orderkey", delta_compare="o_orderkey",
                   delta_retry=True, profile=cfg)
        # run 2 adds a few keys and retries the missing ones
        src2 = orders.filter((key % 3 != 0) | (key < 200))
        out = delta_save(src2, lambda ch: ch, "dretry", "o_orderkey",
                         delta_compare="o_orderkey", delta_retry=True,
                         profile=cfg)
    head = fresh_ms.get_record("dretry").latest_version()
    assert "tombstone_on" in head.attrs  # by reference, retry tombstones
    assert calls == [False, True]  # full profile, then the increment
    assert out.count() == src2.count()

    def _rows(df):
        return {
            r["o_orderpriority"]:
            (r["n_rows"], r["n_value"], round(r["sum_x"], 6),
             r["min_x"], r["max_x"], tuple(r["hist"]))
            for r in df.collect()
        }

    stored, _, _ = fresh_ms.load_dataset(session.spark, "dretry__profile")
    full = profile_sketch(out.df, ["o_orderpriority"],
                          value_col="o_totalprice", lo=0.0, hi=600000.0,
                          bins=32)
    assert _rows(stored) == _rows(full)


def test_flag_api_rejects_delta_result_on(session, sf_dir, fresh_ms):
    with pytest.raises(NotImplementedError, match="delta_result_on"):
        dc.read_parquet(
            f"{sf_dir}/documents.parquet", session=session,
            delta=True, delta_on="doc_id", delta_result_on="doc_id",
        )


def test_flag_api_accepts_explicit_none_delta_result_on(
    session, sf_dir, fresh_ms
):
    """Parity with read_storage/read_dataset: an explicit
    delta_result_on=None is accepted (callers forwarding defaulted
    kwargs dicts); only a real value raises."""
    ch = dc.read_parquet(
        f"{sf_dir}/documents.parquet", session=session,
        delta=True, delta_on="doc_id", delta_result_on=None,
    )
    assert ch.delta
