"""read_storage listing + File accessors + export — mirrors the reference's
listing/glob functional tests (tests/func/test_datachain.py, test_listing)."""

import os

import pytest
from pyspark.sql import functions as F

import datachain_spark as dc
from datachain_spark.sources.files import File


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("tree")
    files = {
        "cats/cat1.jpg": b"cat one",
        "cats/cat2.jpg": b"cat two",
        "dogs/dog1.jpg": b"dog one",
        "dogs/deep/dog2.png": b"dog two",
        "notes.txt": b"hello notes",
        "2024/jan.csv": b"a,b\n1,2",
    }
    for rel, data in files.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    return str(root)


def test_listing_all(session, tree):
    ch = dc.read_storage(tree, session=session, update=True)
    paths = sorted(r["path"] for r in ch.df.select("file.path").collect())
    assert paths == [
        "2024/jan.csv", "cats/cat1.jpg", "cats/cat2.jpg",
        "dogs/deep/dog2.png", "dogs/dog1.jpg", "notes.txt",
    ]
    sizes = {r["path"]: r["size"] for r in ch.df.select("file.path", "file.size").collect()}
    assert sizes["notes.txt"] == 11


def test_glob_patterns(session, tree):
    ch = dc.read_storage(f"{tree}/cats/*.jpg", session=session)
    assert ch.count() == 2
    ch = dc.read_storage(f"{tree}/**/*.jpg", session=session)
    assert ch.count() == 3
    ch = dc.read_storage(f"{tree}/dogs/*.jpg", session=session)
    assert ch.count() == 1
    ch = dc.read_storage(f"{tree}/{{cats,dogs}}/*1.jpg", session=session)
    assert ch.count() == 2
    ch = dc.read_storage(f"{tree}/202?/*.csv", session=session)
    assert ch.count() == 1


def test_listing_cache_ttl(session, tree):
    ch1 = dc.read_storage(tree, session=session, update=True)
    n1 = ch1.count()
    # add a file; cached listing should NOT see it until update=True
    extra = os.path.join(tree, "extra.bin")
    with open(extra, "wb") as f:
        f.write(b"x")
    try:
        assert dc.read_storage(tree, session=session).count() == n1
        assert dc.read_storage(tree, session=session, update=True).count() == n1 + 1
    finally:
        os.remove(extra)
        dc.read_storage(tree, session=session, update=True)


def test_file_accessors_executor_side(session, tree):
    ch = dc.read_storage(f"{tree}/notes.txt", session=session, update=True)

    def read_content(file) -> str:
        return File.model_validate(file).read_text()

    out = ch.map(read_content, params="file", output={"content": str})
    assert out.to_values("content") == ["hello notes"]


def test_file_model_helpers():
    f = File(source="file:///data", path="a/b/c.tar.gz", size=10, etag="e")
    assert f.name == "c.tar.gz"
    assert f.parent == "a/b"
    assert f.file_stem == "c.tar"
    assert f.file_ext == "gz"
    assert f.get_uri() == "file:///data/a/b/c.tar.gz"


def test_export_files(session, tree, tmp_path):
    out_dir = str(tmp_path / "export")
    ch = dc.read_storage(f"{tree}/cats/*.jpg", session=session)
    ch.to_storage(out_dir, placement="filename")
    assert sorted(os.listdir(out_dir)) == ["cat1.jpg", "cat2.jpg"]
    with open(os.path.join(out_dir, "cat1.jpg"), "rb") as fh:
        assert fh.read() == b"cat one"


def test_listings_meta(session, tree):
    dc.read_storage(tree, session=session, update=True)
    lst = dc.listings(session=session)
    assert lst.count() >= 1


def test_file_diff(session, tree):
    v1 = dc.read_storage(tree, session=session, update=True)
    # v2: one file removed from the listing
    v2 = v1.filter(~F.col("file.path").startswith("cats/cat1"))
    d = v2.file_diff(v1)  # added=[], deleted=[cat1]
    recs = d.df.select("file.path").collect()
    assert [r["path"] for r in recs] == ["cats/cat1.jpg"]


def test_dir_expansion(session, tree):
    from datachain_spark.sources.storage import dir_expansion

    listing = dc.read_storage(tree, session=session, update=True)
    agg = {r["dir"]: (r["n_files"], r["total_size"]) for r in dir_expansion(listing).df.collect()}
    assert agg[""][0] == 6          # all files roll up to root
    assert agg["cats"][0] == 2
    assert agg["dogs"][0] == 2      # incl. deep/dog2.png
    assert agg["dogs/deep"][0] == 1
    assert agg["cats"][1] == len(b"cat one") + len(b"cat two")


def test_find_predicates(session, tree):
    from datachain_spark.sources.storage import find

    listing = dc.read_storage(tree, session=session, update=True)
    assert find(listing, glob="**/*.jpg").count() == 3
    assert find(listing, suffix=".csv").count() == 1
    assert find(listing, min_size=8).count() > 0
    assert find(listing, glob="cats/*", max_size=7).count() == 2


def test_file_cache_etag_keyed(tmp_path, monkeypatch):
    from datachain_spark.sources.files import File, clear_file_cache

    monkeypatch.setenv("DATACHAIN_SPARK_CACHE", str(tmp_path / "cache"))
    p = tmp_path / "data.txt"
    p.write_text("v1")
    f = File(path=str(p), etag="abc", size=2)
    assert f.read_bytes(cache=True) == b"v1"
    p.write_text("v2")
    # same etag -> cache hit (stale by design; etag IS the version key)
    assert f.read_bytes(cache=True) == b"v1"
    assert f.read_bytes(cache=False) == b"v2"
    # new etag -> refetch
    assert File(path=str(p), etag="def").read_bytes(cache=True) == b"v2"
    assert clear_file_cache() == 2


def test_settings_cache_flag_reaches_udf(session, tree):
    # NB: spark python workers were spawned with the original env, so the
    # cache lands in the DEFAULT dir — measure its delta, don't monkeypatch.
    import os

    from datachain_spark.sources.files import File, clear_file_cache, file_cache_dir

    def blob_count():
        return sum(len(fs) for _, _, fs in os.walk(file_cache_dir()))

    listing = dc.read_storage(tree, session=session, update=True)

    def peek(file) -> int:
        # plain read_bytes() — the worker default set by settings(cache=True)
        # routes it through the cache
        return len(File.model_validate(file).read_bytes())

    clear_file_cache()  # same etags may be cached by a sibling test
    before = blob_count()
    out = (
        listing.settings(cache=True)
        .map(peek, params=["file"], output={"nbytes": int})
    )
    sizes = {r["file"]["path"]: r["nbytes"] for r in out.to_records()}
    assert all(v > 0 for v in sizes.values())
    assert blob_count() - before >= len(sizes)  # one new blob per file


def test_settings_prefetch_warms_cache(session, tree):
    import os

    from datachain_spark.sources.files import File, clear_file_cache, file_cache_dir

    def blob_count():
        return sum(len(fs) for _, _, fs in os.walk(file_cache_dir()))

    listing = dc.read_storage(tree, session=session, update=True)

    def peek(file) -> int:
        return len(File.model_validate(file).read_bytes())

    clear_file_cache()  # same etags may be cached by a sibling test
    before = blob_count()
    out = (
        listing.settings(prefetch=2)  # no cache flag: prefetch alone warms
        .map(peek, params=["file"], output={"nbytes": int})
    )
    recs = out.to_records()
    assert all(r["nbytes"] > 0 for r in recs)
    assert blob_count() - before >= len(recs)


def test_hadoop_listing_any_scheme(session, tmp_path):
    """Remote-scheme listings go through the JVM Hadoop FileSystem (same
    connector stack as Spark's readers). Exercised here with the Hadoop
    local FS via a file: URI — the code path is scheme-agnostic."""
    from datachain_spark.sources.storage import _hadoop_listing

    root = tmp_path / "bucket"
    (root / "deep").mkdir(parents=True)
    (root / "a.txt").write_bytes(b"xx")
    (root / "deep" / "b.txt").write_bytes(b"yyyy")

    ch = _hadoop_listing(session, f"file:{root}")
    rows = {r["path"]: r["size"] for r in ch.df.collect()}
    assert rows == {"a.txt": 2, "deep/b.txt": 4}
    src = ch.df.select("source").first()["source"]
    assert src.startswith("file:") and str(root) in src

    # single remote file short-circuits to one row
    one = _hadoop_listing(session, f"file:{root}/a.txt")
    r = one.df.collect()[0]
    assert r["path"] == "a.txt" and r["size"] == 2

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        _hadoop_listing(session, f"file:{root}/nope")


def test_with_file_content_jvm_side(session, tmp_path):
    """with_file_content attaches bytes via Spark's binaryFile source —
    content arrives without any Python-side file I/O and joins back onto
    the listing rows."""
    import datachain_spark as dc

    root = tmp_path / "blobs"
    (root / "sub").mkdir(parents=True)
    (root / "a.bin").write_bytes(b"alpha")
    (root / "sub" / "b.bin").write_bytes(b"bravo!")

    ch = dc.read_storage(str(root), session=session, update=True)
    out = ch.with_file_content()
    got = {
        r["p"]: bytes(r["content"])
        for r in out.df.select(
            out.df["file.path"].alias("p"), "content"
        ).collect()
    }
    assert got == {"a.bin": b"alpha", "sub/b.bin": b"bravo!"}

    # filtered listing: unmatched rows keep NULL content via the left join
    sub = ch.filter(dc.C("file.path").glob("*.bin"))
    assert sub.with_file_content().df.filter("content IS NULL").count() == 0


def test_listing_to_multimodal_pipeline(session, tmp_path):
    """Full multimodal ingest path: read_storage listing -> JVM-side bytes
    (with_file_content) -> mapInPandas decode (deterministic fake) — the
    exact shape a 100 TB image pipeline uses, with no Python file I/O."""
    import datachain_spark as dc
    from datachain_spark.ops import multimodal

    root = tmp_path / "imgs"
    root.mkdir()
    (root / "x.jpg").write_bytes(b"fake-jpeg-bytes-1")
    (root / "y.jpg").write_bytes(b"fake-jpeg-bytes-22")

    ch = dc.read_storage(f"{root}/*.jpg", session=session, update=True)
    with_bytes = ch.with_file_content()
    decoded = multimodal.extract_image_meta(with_bytes.df, fake=True)
    rows = {
        r["p"]: (r["image"]["width"], r["image"]["height"], r["image"]["format"])
        for r in decoded.select(
            decoded["file.path"].alias("p"), "image"
        ).collect()
    }
    assert set(rows) == {"x.jpg", "y.jpg"}
    for w, h, fmt in rows.values():
        assert w >= 64 and h >= 64 and fmt in {"jpeg", "png", "webp"}
    # deterministic: same bytes -> same fake meta
    again = multimodal.extract_image_meta(with_bytes.df, fake=True)
    rows2 = {
        r["p"]: (r["image"]["width"], r["image"]["height"], r["image"]["format"])
        for r in again.select(again["file.path"].alias("p"), "image").collect()
    }
    assert rows2 == rows


def test_gen_agg_dotted_scalar_params_over_storage(session, tree):
    """gen/agg with dotted scalar params (``file.path``) narrow the File
    struct to just those fields; the narrowed frame must survive the
    Python boundary, which re-selects every input column by name."""
    ch = dc.read_storage(tree, session=session, update=True).map(
        ext=lambda path: path.rsplit(".", 1)[-1], params=["file.path"],
        output=str,
    )

    def split(path, size, ext):
        yield path.rsplit("/", 1)[-1], size, ext

    out = ch.gen(split, params=["file.path", "file.size", "ext"],
                 output={"base": str, "size": int, "ext": str})
    got = sorted(out.to_list("base", "size", "ext"))
    assert ("notes.txt", 11, "txt") in got and len(got) == 6

    def total(path, size):
        yield len(path), sum(size)

    agg = ch.agg(total, params=["file.path", "file.size"],
                 output={"n": int, "bytes": int})
    assert agg.to_list() == [(6, sum(s for s, in ch.to_list("file.size")))]
