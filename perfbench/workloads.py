"""The three workloads. Each is a closed loop: one client runs ``op(i)``,
waits for it, checks its output against the ledger, then runs the next.

``setup`` builds the workload's inputs and base datasets; ``op`` returns an
``OpResult`` and raises nothing it does not have to: a check that fails is
reported through ``ok`` so the run keeps going and counts it.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from typing import Callable, Optional

import duckdb

import datachain_spark as dc
from datachain_spark import C, func
from datachain_spark.sources import storage

from . import inputs
from .tracer import Tracer


@dataclass
class Accums:
    """Spark accumulators the benchmark's UDF bodies add to in the traced
    run (they execute in Python worker processes)."""

    rows_in: object
    rows_out: object
    body_s: object
    read_s: object
    bytes_read: object

    @classmethod
    def create(cls, sc) -> "Accums":
        return cls(sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0),
                   sc.accumulator(0.0), sc.accumulator(0))

    def values(self) -> dict:
        return {k: getattr(self, k).value for k in self.__dataclass_fields__}


@dataclass
class Ctx:
    sess: dc.Session
    tracer: Tracer
    work: str  # the run's scratch directory
    seed: int
    accums: Optional[Accums] = None  # set only while a traced op runs


@dataclass
class OpResult:
    ok: bool
    detail: str
    latency: float  # seconds from the op's first engine call to its result
    files: int  # source files the op covered (numerator of files_per_s)
    listed: int = 0  # files the op's listing returned
    changed: int = 0  # rows the ledger says changed (delta only)
    collected: int = 0  # rows collected into this process (query only)


def _read_text(file, acc: Optional[Accums]) -> str:
    if acc is None:
        return file.read_text()
    t0 = time.perf_counter()
    text = file.read_text()
    acc.read_s.add(time.perf_counter() - t0)
    acc.bytes_read.add(len(text.encode()))
    return text


def _body(acc: Optional[Accums], fn: Callable, *args):
    """``fn(*args)``, one UDF call; in the traced run its time is added to
    ``body_s``, one row to ``rows_in`` and its rows (a list is one row per
    item) to ``rows_out``."""
    if acc is None:
        return fn(*args)
    t0 = time.perf_counter()
    out = fn(*args)
    acc.body_s.add(time.perf_counter() - t0)
    acc.rows_in.add(1)
    acc.rows_out.add(len(out) if isinstance(out, list) else 1)
    return out


def _words(text: str) -> int:
    return sum(len(p.split()) for p in inputs.paragraphs(text))


def _words_udf(acc: Optional[Accums]) -> Callable:
    """map: file -> words, reading the file via File.read_text."""

    def words(file: dc.File) -> int:
        return _body(acc, _words, _read_text(file, acc))

    return words


def _signals_udf(acc: Optional[Accums]) -> Callable:
    """map: file -> (words, text), reading the file once via File.read_text."""

    def signals(file: dc.File):
        return _body(acc, lambda text: (_words(text), text), _read_text(file, acc))

    return signals


def _paragraphs_udf(acc: Optional[Accums]) -> Callable:
    """gen: (file, text) -> one (path, para, words) row per paragraph."""

    def split(file: dc.File, text: str):
        return _body(acc, lambda: [(file.path, i, len(p.split()))
                                   for i, p in enumerate(inputs.paragraphs(text))])

    return split


class BucketIngest:
    """Each op lists a prefix of fresh files, reads every file in a map,
    splits paragraphs in a gen and saves the rows as a new version."""

    name = "bucket_ingest"
    round_ops = 1
    warmup_rounds = 1
    min_rounds = 2

    def setup(self, ctx: Ctx) -> None:
        self.rng = random.Random(ctx.seed)
        self.bucket = inputs.Bucket(os.path.join(ctx.work, "bucket"))

    def input_bytes(self) -> int:
        return self.bucket.live_bytes

    def op(self, ctx: Ctx, i: int) -> OpResult:
        prefix = f"ingest{i + 1:05d}"
        written = inputs.fill_prefix(self.bucket, self.rng, prefix,
                                     inputs.INGEST_FILES)
        tr, acc = ctx.tracer, ctx.accums
        t0 = time.perf_counter()
        chain = storage.read_storage(os.path.join(self.bucket.root, prefix))
        with tr.span("chain", "plan"):
            chain = chain.map(_signals_udf(acc), output={"words": int, "text": str})
            chain = chain.gen(_paragraphs_udf(acc), params=["file", "text"],
                              output={"path": str, "para": int, "words": int})
        with tr.span("catalog", "save"):
            saved = chain.save("ingest")
        latency = time.perf_counter() - t0
        want = sorted(
            (rel[len(prefix) + 1:], j, n)
            for rel in written
            for j, n in enumerate(self.bucket.files[rel].paras)
        )
        got = sorted(saved.to_list("path", "para", "words"))
        ok = got == want
        detail = f"{len(got)} paragraph rows" + ("" if ok else f", ledger has {len(want)}")
        return OpResult(ok, detail, latency, len(written), listed=len(written))


class DeltaRefresh:
    """Set-up saves a bucket once; each op churns it and runs the
    incremental refresh, which must reprocess only what changed."""

    name = "delta_refresh"
    round_ops = 1
    warmup_rounds = 1
    # an op takes several seconds, so a run times 3 of them whatever its
    # length: a median of 3, and a traced run with an untraced op between
    # its 2 traced ones
    min_rounds = 3

    def setup(self, ctx: Ctx) -> None:
        self.rng = random.Random(ctx.seed)
        self.bucket = inputs.Bucket(os.path.join(ctx.work, "bucket"))
        inputs.fill_prefix(self.bucket, self.rng, "base", inputs.BASE_FILES)
        self._refresh(ctx)  # the first save processes every file

    def input_bytes(self) -> int:
        return self.bucket.live_bytes

    def _refresh(self, ctx: Ctx):
        chain = storage.read_storage(
            self.bucket.root, update=True, delta=True, delta_on="file.path",
            delta_compare=["file.size", "file.last_modified"],
        )
        chain = chain.map(words=_words_udf(ctx.accums), output=int)
        with ctx.tracer.span("delta", "refresh"):
            return chain.save("refreshed")

    def op(self, ctx: Ctx, i: int) -> OpResult:
        churn = inputs.apply_churn(self.bucket, self.rng, f"churn{i + 1:05d}")
        t0 = time.perf_counter()
        saved = self._refresh(ctx)
        latency = time.perf_counter() - t0
        want = sorted((rel, f.words) for rel, f in self.bucket.files.items())
        got = sorted(saved.to_list("file.path", "words"))
        ok = got == want
        detail = (f"+{len(churn.added)} ~{len(churn.modified)} -{len(churn.deleted)}"
                  f" -> {len(got)} rows" + ("" if ok else ", differs from ledger"))
        n = len(self.bucket.files)
        return OpResult(ok, detail, latency, n, listed=n,
                        changed=len(churn.added) + len(churn.modified))


# -- dataset_query -------------------------------------------------------------

TEMPLATES = ("filter_group", "merge_group", "window_topk", "distinct_count",
             "exact_dedup")


class DatasetQuery:
    """Each op runs one query template over datasets saved in set-up and
    collects the result; relational answers are compared with DuckDB over
    the same parquet files, dedup answers with the planted duplicates: every
    exact copy goes, every near copy (one word changed) stays."""

    name = "dataset_query"
    round_ops = len(TEMPLATES)  # a round runs every template once
    # short queries keep speeding up through the second round of a fresh JVM
    warmup_rounds = 2
    # at least 40 timed ops, so that 10 lie beyond the p75 tail
    min_rounds = 8

    def setup(self, ctx: Ctx) -> None:
        src = os.path.join(ctx.work, "tables")
        os.makedirs(src)
        self.files: list[str] = []  # every parquet input, for input_bytes
        self.parquet: dict[tuple[str, str], str] = {}  # (table, version) -> file
        # (table, version) -> parquet files of the saved version, the files a
        # query that reads the version scans (numerator of files_per_s)
        self.data_files: dict[tuple[str, str], int] = {}
        self.versions: list[str] = []
        ms = ctx.sess.metastore

        def save(name: str, frame, k: int) -> str:
            path = os.path.join(src, f"{name}_v{k}.parquet")
            frame.to_parquet(path, index=False)
            dc.read_parquet(path).save(name)
            self.files.append(path)
            version = ms.get_record(name).latest_version().version
            self.parquet[(name, version)] = path
            self.data_files[(name, version)] = sum(
                f.endswith(".parquet")
                for _, _, fs in os.walk(ms.version_data_path(name, version)) for f in fs)
            return version

        for k, snap in enumerate(inputs.make_tables(ctx.seed)):
            for table, frame in snap.items():
                version = save(table, frame, k)
            self.versions.append(version)
        self.docs = inputs.make_docs(ctx.seed + 1)
        save("docs", self.docs.frame[self.docs.frame.id < inputs.N_DOCS], 0)
        self.docs_version = save("docs", self.docs.frame, 1)
        self._rng = random.Random(ctx.seed)
        self.plan: list[tuple[str, str, tuple]] = []
        self.duck = duckdb.connect()

    def input_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.files)

    def _draw(self, i: int) -> tuple[str, str, tuple]:
        """Ops come in rounds holding every template once, in seeded order,
        so each run's template mix is the same whatever the seed. Each
        template reads a fixed version (distinct_count the first, window_topk
        the second, the others the latest), and the seed moves its
        parameters within a narrow range, so an op's work hardly depends on
        the seed."""
        while len(self.plan) <= i:
            block = list(TEMPLATES)
            self._rng.shuffle(block)
            r = self._rng
            for t in block:
                v = {"distinct_count": self.versions[0],
                     "window_topk": self.versions[1]}.get(t, self.versions[-1])
                params = {
                    "filter_group": (r.randint(1000, 1200),),
                    "merge_group": (r.randint(0, 1400), r.randint(400, 500)),
                    "window_topk": (r.randint(150, 200),),
                    "distinct_count": (r.randint(800, 1000),),
                }.get(t, ())
                self.plan.append((t, v, params))
        return self.plan[i]

    def _run(self, ctx: Ctx, t: str, v: str, p: tuple):
        tr = ctx.tracer
        if t == "exact_dedup":
            docs = dc.read_dataset("docs")
            with tr.span("ops", t):
                return docs.exact_dedup("text", id_col="id").to_list("id")
        li = dc.read_dataset("lineitem", v) if t in ("filter_group", "merge_group") else None
        orders = dc.read_dataset("orders", v) if t != "filter_group" else None
        with tr.span("chain", "plan"):
            if t == "filter_group":
                q = li.filter(C("shipday") < p[0]).group_by(
                    partition_by="returnflag", n=func.count(),
                    qty=func.sum("quantity"), cents=func.sum("price_cents"))
                cols = ("returnflag", "n", "qty", "cents")
            elif t == "merge_group":
                o = orders.filter((C("orderday") >= p[0]) & (C("orderday") < p[0] + p[1]))
                q = o.merge(li, on="orderkey", inner=True).group_by(
                    partition_by="orderpriority", n=func.count(),
                    cents=func.sum("price_cents"))
                cols = ("orderpriority", "n", "cents")
            elif t == "window_topk":
                w = func.window("custkey", ["totalcents", "orderkey"], desc=True)
                q = (orders.filter(C("custkey") < p[0])
                     .mutate(rn=func.row_number().over(w)).filter(C("rn") <= 3))
                cols = ("custkey", "orderkey", "rn")
            else:
                q = orders.filter(C("orderday") >= p[0]).distinct("custkey")
                cols = None
        with tr.span("chain", "collect"):
            if cols is None:
                return [(q.count(),)]
            return q.to_list(*cols)

    def _expected(self, t: str, v: str, p: tuple):
        if t == "exact_dedup":
            drop = {d for _, d in self.docs.exact_pairs}
            return sorted(set(self.docs.frame.id) - drop)
        li, o = self.parquet.get(("lineitem", v)), self.parquet.get(("orders", v))
        if t == "filter_group":
            sql = (f"select returnflag, count(*), sum(quantity), sum(price_cents)"
                   f" from '{li}' where shipday < {p[0]} group by 1")
        elif t == "merge_group":
            sql = (f"select orderpriority, count(*), sum(l.price_cents)"
                   f" from '{o}' o join '{li}' l using (orderkey)"
                   f" where orderday >= {p[0]} and orderday < {p[0] + p[1]} group by 1")
        elif t == "window_topk":
            sql = (f"select custkey, orderkey, rn from (select custkey, orderkey,"
                   f" row_number() over (partition by custkey order by totalcents desc,"
                   f" orderkey desc) rn from '{o}' where custkey < {p[0]}) where rn <= 3")
        else:
            sql = f"select count(distinct custkey) from '{o}' where orderday >= {p[0]}"
        return sorted(tuple(r) for r in self.duck.execute(sql).fetchall())

    def op(self, ctx: Ctx, i: int) -> OpResult:
        t, v, p = self._draw(i + self.warmup_rounds * self.round_ops)
        t0 = time.perf_counter()
        rows = self._run(ctx, t, v, p)
        latency = time.perf_counter() - t0
        if t == "exact_dedup":
            got, why = sorted(r[0] for r in rows), "planted duplicates"
        else:
            got, why = sorted(tuple(r) for r in rows), "DuckDB"
        ok = got == self._expected(t, v, p)
        why = ("matches " if ok else "differs from ") + why
        tables = {"exact_dedup": [("docs", self.docs_version)],
                  "filter_group": [("lineitem", v)],
                  "merge_group": [("orders", v), ("lineitem", v)]}
        files = sum(self.data_files[k] for k in tables.get(t, [("orders", v)]))
        return OpResult(ok, f"{t}@{v}: {len(rows)} rows, {why}", latency, files,
                        collected=len(rows))


WORKLOADS = {w.name: w for w in (BucketIngest, DeltaRefresh, DatasetQuery)}
