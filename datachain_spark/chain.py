"""DataChain: the lazy, chainable facade over a Spark DataFrame.

Parity: /root/reference/src/datachain/lib/dc/datachain.py (class DataChain,
:108). The reference keeps a list of step objects interpreted into nested
SQLite subqueries (/root/reference/src/datachain/query/dataset.py:1425-1460);
here **the DataFrame IS the plan** — every method composes a new DataFrame and
Catalyst/AQE do predicate pushdown, column pruning, join selection and runtime
re-planning (SURVEY.md §4: the reference has no optimizer of its own).

Scale posture (100 TB): no method in this class calls ``collect()`` except the
explicit client-side sinks (``to_pandas``/``to_list``/...); joins/aggregations
shuffle on their keys and small sides can be broadcast by AQE; sampling,
shuffling, sharding use seeded hashes of stable columns instead of the
reference's driver-assigned ``sys__rand`` (retry-deterministic on a cluster).
"""

from __future__ import annotations

import os
from typing import Any, Callable, Iterable, Iterator, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .columns import Col, to_column, unwrap
from .session import Session
from .udf import (
    _file_struct_params,
    build_agg_fn,
    build_batch_map_fn,
    build_gen_fn,
    build_map_fn,
    infer_param_models,
    infer_params,
    normalize_output,
    struct_boundary_fn,
)

ColumnLike = Union[str, Column, Col]


def _cols(items: Union[ColumnLike, Sequence[ColumnLike], None]) -> list[Column]:
    if items is None:
        return []
    if isinstance(items, (str, Column, Col)):
        items = [items]
    return [to_column(i) for i in items]


def _names(items: Union[str, Sequence[str], None]) -> list[str]:
    if items is None:
        return []
    if isinstance(items, str):
        return [items]
    return list(items)


def _quoted(name: str) -> str:
    """Backtick-quote a literal column name (dots stay literal)."""
    return "`" + name.replace("`", "``") + "`"


def _resolve_param_expr(schema, name: str):
    """(terminal DataType, Column) for a UDF param the JVM can evaluate:
    a literal top-level column, or a dotted path walked through struct
    fields — mirroring udf._extract_param's runtime traversal (literal
    column first, then dict-walk). (None, None) when unresolvable, in
    which case callers keep the wide mapInPandas path and _extract_param
    raises its own KeyError at runtime."""
    from pyspark.sql import types as T

    names = set(schema.fieldNames())
    if name in names:
        return schema[name].dataType, F.col(_quoted(name))
    if "." in name:
        head, rest = name.split(".", 1)
        if head in names and isinstance(schema[head].dataType, T.StructType):
            dt = schema[head].dataType
            expr = F.col(_quoted(head))
            for part in rest.split("."):
                if not isinstance(dt, T.StructType) or part not in dt.fieldNames():
                    return None, None
                expr = expr.getField(part)
                dt = dt[part].dataType
            return dt, expr
    return None, None


class DatasetMergeError(ValueError):
    """Parity: datachain.lib.dc.datachain merge errors."""


class DatasetPrepareError(ValueError):
    """Parity: lib/dc/utils.py:57 — dataset processing prepare errors."""

    def __init__(self, name, msg, output=None):
        name = f" '{name}'" if name else ""
        output = f" output '{output}'" if output else ""
        super().__init__(f"Dataset{name}{output} processing prepare error: {msg}")


class DataChain:
    """Immutable chain; every operator returns a new DataChain
    (parity: _evolve, /root/reference/src/datachain/lib/dc/datachain.py:326)."""

    def __init__(
        self,
        df: DataFrame,
        session: Optional[Session] = None,
        settings: Optional[dict[str, Any]] = None,
        dependencies: Optional[list[dict[str, str]]] = None,
    ):
        self._df = df
        self.session = Session.get(session, spark=df.sparkSession)
        self._settings = dict(settings or {})
        self._setup_values: dict[str, Callable[[], Any]] = {}
        # lineage: datasets/sources this chain reads (recorded on save;
        # parity query/dataset.py:1882-1916)
        self._dependencies = list(dependencies or [])
        # identity of the saved dataset this chain directly reads, if any
        # ({"name","version","namespace","project"}); intentionally NOT
        # propagated through _evolve — a transformed chain is no longer
        # "the dataset" (parity: name/version/dataset props, datachain.py:294-318)
        self._dataset_info: dict[str, str] = {}
        # column -> Pydantic model backing that (struct) column; persisted by
        # save() and reconstructed by read_dataset() (signal_schema.py parity)
        self._signal_models: dict[str, type] = {}

    # ------------------------------------------------------------------ core
    def _evolve(self, df: DataFrame, extra_deps: Optional[list] = None) -> "DataChain":
        deps = self._dependencies + list(extra_deps or [])
        out = DataChain(df, self.session, self._settings, deps)
        out._setup_values = self._setup_values
        out._signal_models = self._signal_models
        return out

    def setup(self, **thunks: Callable[[], Any]) -> "DataChain":
        """Register lazily-evaluated shared resources injected as UDF kwargs
        (e.g. API clients). Built once per executor worker on first use —
        never serialized. Parity: datachain.py:2637-2679."""
        out = self._evolve(self._df)
        out._setup_values = {**self._setup_values, **thunks}
        return out

    @property
    def df(self) -> DataFrame:
        """Escape hatch: the underlying Spark DataFrame."""
        return self._df

    @property
    def schema(self):
        return self._df.schema

    @property
    def columns(self) -> list[str]:
        return self._df.columns

    def print_schema(self) -> None:
        """Parity: datachain.py:318."""
        self._df.printSchema()

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)

    def lint(self, max_shuffles: int = 10) -> list[dict]:
        """Static 100-TB plan lint (plans.lint_plan): findings for the
        shapes that melt at scale — cartesian products, single-partition
        windows, row-at-a-time Python UDFs, unpushed filters. Empty list
        = clean."""
        from .plans import lint_plan

        return lint_plan(self._df, max_shuffles=max_shuffles)

    def settings(self, **kwargs: Any) -> "DataChain":
        """Parity: datachain settings(parallel/workers/batch_size/prefetch/
        cache/sys). On Spark, parallel/workers map to a repartition hint
        (executors already parallelize UDFs —
        /root/reference/src/datachain/query/dispatch.py:54-466 is obsolete).
        ``cache=True`` routes UDF File reads through the executor-local
        (uri, etag) cache; ``prefetch=N`` keeps N file downloads in flight
        ahead of row processing (lib/udf.py:356-392 parity)."""
        out = DataChain(self._df, self.session, {**self._settings, **kwargs}, self._dependencies)
        n = kwargs.get("parallel") or kwargs.get("workers")
        if isinstance(n, int) and n > 0:
            out._df = out._df.repartition(n)
        if kwargs.get("sys") and "sys" not in out._df.columns:
            # Parity: lib/dc/utils.py:126 Sys(id, rand). Here sys.id is a
            # plan-scoped monotonic row id (NOT stable across re-executions
            # of a different plan — the reference's is a warehouse rowid;
            # document, don't emulate a warehouse) and sys.rand derives
            # deterministically from it (63-bit non-negative, like the
            # reference's per-row random used by sample/shuffle).
            out._df = (
                out._df.withColumn("__sys_id", F.monotonically_increasing_id())
                .withColumn(
                    "sys",
                    F.struct(
                        F.col("__sys_id").alias("id"),
                        F.expr(
                            "xxhash64(__sys_id, 1337) & 9223372036854775807"
                        ).alias("rand"),
                    ),
                )
                .drop("__sys_id")
            )
        elif kwargs.get("sys") is False and "sys" in self._df.columns:
            out._df = out._df.drop("sys")
        return out

    def reset_settings(self) -> "DataChain":
        """Drop all chain settings. Parity: datachain.py:417-421."""
        out = DataChain(self._df, self.session, {}, self._dependencies)
        out._setup_values = self._setup_values
        return out

    def apply(self, func: Callable[..., "DataChain"], *args, **kwargs) -> "DataChain":
        """Parity: datachain.py:786-807 (composition helper)."""
        return func(self, *args, **kwargs)

    def clone(self) -> "DataChain":
        """Copy of the chain (lazy — Spark plans are immutable values, so no
        new table is materialized, unlike the reference's table copy).
        Parity: datachain.py:322-325."""
        return self._evolve(self._df)

    def hash(self) -> str:  # noqa: A003
        """Stable hash of the chain's steps: sha256 of the analyzed logical
        plan with expression ids normalized away — the raw plan string embeds
        session-assigned `#123` ids, so two independently-built identical
        chains would otherwise differ (same IR checkpoint_save keys on).
        Parity: datachain.py:219-226 ("fast and consistent")."""
        from .delta import plan_fingerprint

        return plan_fingerprint(self._df)

    @property
    def empty(self) -> bool:
        """True if the chain has zero rows. Parity: datachain.py:248-251."""
        return self._df.isEmpty()

    @property
    def name(self) -> Optional[str]:
        """Name of the underlying saved dataset, if this chain directly
        reads one. Parity: datachain.py:294-297."""
        return self._dataset_info.get("name")

    @property
    def version(self) -> Optional[str]:
        """Version of the underlying saved dataset, if any.
        Parity: datachain.py:299-302."""
        return self._dataset_info.get("version")

    @property
    def namespace_name(self) -> Optional[str]:
        return self._dataset_info.get("namespace")

    @property
    def project_name(self) -> Optional[str]:
        return self._dataset_info.get("project")

    @property
    def dataset(self):
        """The underlying DatasetRecord, if any. Parity: datachain.py:304-318."""
        if not self.name:
            return None
        return self.session.metastore.get_record(self.name)

    @property
    def delta(self) -> bool:
        """A materialized DataChain is never delta-pending (always False;
        parity surface datachain.py:253-256). The flag-style incremental
        path — ``read_storage/read_dataset(delta=True, ...)`` — returns a
        ``datachain_spark.delta.DeltaChain`` (whose ``.delta`` is True)
        instead of this class; ``delta_save`` is the functional form."""
        return False

    delta_unsafe = delta

    def column(self, name: str) -> Column:
        """Column ref validated against the current schema ('a.b' descends
        into structs); raises ValueError when absent.
        Parity: datachain.py:266-280."""
        try:
            return self._df[name]
        except Exception:
            raise ValueError(f"Column with name {name} not found in the schema") from None

    def c(self, column: Union[str, Column, Col]) -> Column:
        """Parity: datachain.py:282-287."""
        if isinstance(column, str):
            return self.column(column)
        return unwrap(column)

    # ------------------------------------------------------ projection/filter
    def select(self, *names: ColumnLike) -> "DataChain":
        """Keep listed signals; nested 'a.b' selects the subfield (aliased to
        its leaf name). Parity: datachain.py:1155-1161."""
        cols = []
        for n in names:
            if isinstance(n, str) and "." in n and n not in self._df.columns:
                cols.append(F.col(n).alias(n.split(".")[-1]))
            else:
                cols.append(to_column(n))
        return self._evolve(self._df.select(*cols))

    def select_except(self, *names: str) -> "DataChain":
        """Parity: datachain.py:1163-1169."""
        df = self._df
        for n in names:
            if isinstance(n, str) and "." in n and n not in df.columns:
                head, rest = n.split(".", 1)
                df = df.withColumn(head, F.col(head).dropFields(rest))
            else:
                df = df.drop(n)
        return self._evolve(df)

    def mutate(self, **kwargs: Any) -> "DataChain":
        """Add/replace columns from expressions; literals become constants.
        Parity: datachain.py:1295-1381 (SQLMutate)."""
        exprs = {}
        for name, expr in kwargs.items():
            if isinstance(expr, (Col, Column)):
                exprs[name] = unwrap(expr)
            else:
                exprs[name] = F.lit(expr)
        return self._evolve(self._df.withColumns(exprs))

    def rename(self, **kwargs: str) -> "DataChain":
        """new_name='old_name' renames (reference does this via mutate with a
        bare column reference, datachain.py:1295-1381)."""
        df = self._df
        for new, old in kwargs.items():
            df = df.withColumnRenamed(old, new)
        return self._evolve(df)

    def filter(self, *exprs: Any) -> "DataChain":
        """AND of boolean expressions. Parity: datachain.py:2779-2847
        (SQLFilter AND-combine at query/dataset.py:901)."""
        df = self._df
        for e in exprs:
            df = df.filter(unwrap(e) if not isinstance(e, str) else F.expr(e))
        return self._evolve(df)

    def explode(
        self,
        col: str,
        model_name: Optional[str] = None,
        object_name: str = "object",
        schema_sample_size: int = 1,
    ) -> "DataChain":
        """JSON-string column -> typed struct column. Schema inferred from a
        sample, like the reference (datachain.py:466-520)."""
        sample = [
            r[0]
            for r in self._df.select(col).filter(F.col(col).isNotNull())
            .limit(max(schema_sample_size, 1)).collect()
        ]
        if not sample:
            raise ValueError(f"explode: no non-null sample values in {col!r}")
        spark = self._df.sparkSession
        json_schema = spark.range(1).select(
            F.schema_of_json(F.lit(sample[0])).alias("s")
        ).first()["s"]
        return self._evolve(
            self._df.withColumn(object_name, F.from_json(F.col(col), json_schema))
        )

    # ------------------------------------------------------------ sort/limit
    def order_by(self, *cols: ColumnLike, descending: bool = False) -> "DataChain":
        """Total sort. Parity: datachain.py:1114-1136."""
        cs = [to_column(c) for c in cols]
        if descending:
            cs = [c.desc() for c in cs]
        return self._evolve(self._df.orderBy(*cs))

    def limit(self, n: int) -> "DataChain":
        return self._evolve(self._df.limit(n))

    def offset(self, n: int) -> "DataChain":
        """Parity: datachain.py:2849-2869. Spark >=3.4 has native offset."""
        return self._evolve(self._df.offset(n))

    def distinct(self, *cols: str) -> "DataChain":
        """One row per distinct key combination (DISTINCT ON-style, arbitrary
        representative row). Parity: datachain.py:1139-1153. Whole-row
        distinct when no keys given."""
        if not cols:
            return self._evolve(self._df.distinct())
        return self._evolve(self._df.dropDuplicates(list(cols)))

    def sample(self, n: int, seed: Optional[int] = None) -> "DataChain":
        """Random n rows (reference: ORDER BY random() LIMIT n,
        query/dataset.py:1561-1574 — nondeterministic there too; we take a
        seeded variant). TABLESAMPLE-free implementation that avoids a full
        sort at scale is possible via rand() filter; for exact-n we sort by
        rand — acceptable because n is small by contract."""
        return self._evolve(self._df.orderBy(F.rand(seed) if seed is not None else F.rand()).limit(n))

    def _row_hash64(
        self,
        seed: Optional[int],
        key: Optional[Sequence[str]] = None,
        hash_fn: str = "xxhash64",
    ) -> Column:
        """Deterministic per-row 64-bit hash driving shuffle/chunk/sample_by/
        train_test_split. Defaults to hashing every column (retry-stable
        whole-row identity); pass ``key`` to hash a narrow id set instead —
        the 100 TB path, where casting wide rows to strings per row is real
        CPU. ``hash_fn="md5"`` selects the portable family DuckDB reproduces
        (see ops/text._hash64) so sharding itself is oracle-verifiable."""
        names = list(key) if key else self._df.columns
        cols = [F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in names]
        if hash_fn == "xxhash64":
            return F.xxhash64(*cols, F.lit(seed)) if seed is not None else F.xxhash64(*cols)
        if hash_fn == "md5":
            joined = F.concat_ws("\x1f", *cols)
            if seed is not None:
                joined = F.concat(joined, F.lit(f":{seed}"))
            return F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("long")
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")

    def shuffle(
        self,
        seed: int = 42,
        key: Optional[Sequence[str]] = None,
        hash_fn: str = "xxhash64",
    ) -> "DataChain":
        """Repeatable shuffle. Reference regenerates sys__rand via an LCG
        (query/dataset.py:809-827, data_storage/sqlite.py:846-852); we order
        by a seeded hash of the whole row (or of ``key``) — deterministic
        under retries."""
        return self._evolve(self._df.orderBy(self._row_hash64(seed, key, hash_fn)))

    def chunk(
        self,
        index: int,
        total: int,
        key: Optional[Sequence[str]] = None,
        hash_fn: str = "xxhash64",
    ) -> "DataChain":
        """Deterministic shard i-of-n. Parity: datachain.py:2879-2899
        (C.sys__rand % total == index); here pmod(hash(row|key), total)."""
        if not 0 <= index < total:
            raise ValueError("chunk index must be in [0, total)")
        return self._evolve(
            self._df.filter(
                F.pmod(self._row_hash64(None, key, hash_fn), F.lit(total)) == index
            )
        )

    def sample_by(
        self,
        col: ColumnLike,
        fractions: dict[Any, float],
        seed: int = 42,
        key: Optional[Sequence[str]] = None,
        hash_fn: str = "xxhash64",
    ) -> "DataChain":
        """Stratified sampling: keep ``fractions[k]`` of the rows for each
        value k of ``col`` (class-balancing a training corpus). No reference
        counterpart; deterministic — a seeded per-row hash is compared
        against the stratum's fraction, so results are stable across retries
        and partitionings (unlike DataFrame.sampleBy). Unlisted strata are
        dropped, matching DataFrame.sampleBy."""
        if not fractions:
            raise ValueError("sample_by: fractions must be non-empty")
        for k, f in fractions.items():
            if not 0.0 <= f <= 1.0:
                raise ValueError(f"sample_by: fraction for {k!r} not in [0,1]")
        strat = to_column(col)
        u = F.pmod(self._row_hash64(seed, key, hash_fn), F.lit(2**31)) / F.lit(float(2**31))
        frac = None
        for k, f in fractions.items():
            frac = F.when(strat == F.lit(k), F.lit(float(f))) if frac is None \
                else frac.when(strat == F.lit(k), F.lit(float(f)))
        return self._evolve(self._df.filter(u < frac))

    def sample_per_group(
        self,
        group_cols: Union[str, Sequence[str]],
        n: int,
        seed: int = 42,
        key: Optional[Sequence[str]] = None,
        hash_fn: str = "xxhash64",
    ) -> "DataChain":
        """Exactly ``n`` rows per group (fewer when a group is smaller) — the
        balanced-subset pass (equal docs per language/domain) that a
        FRACTION-based sample can't give when strata sizes differ by orders
        of magnitude. Deterministic: rows rank by the seeded per-row hash
        within each group (same family as shuffle/chunk — retry- and
        partitioning-stable; ``hash_fn="md5"`` makes the selection itself
        DuckDB-verifiable). Hash ties (rows sharing a ``key=`` value) are
        broken by a SECOND whole-row seeded hash, so which row survives the
        n-cut never depends on partition order — and unlike ordering by the
        raw columns, the hash is O(1) per comparison (no megabyte
        text/binary payloads in the sort key) and indifferent to
        non-orderable nested types (maps stringify fine). Remaining ties
        are full-duplicate rows, where any cut returns identical values.
        One shuffle on the group keys; no reference counterpart (spec
        addition)."""
        if n <= 0:
            raise ValueError("sample_per_group: n must be positive")
        groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
        h = self._row_hash64(seed, key, hash_fn)
        tiebreak = self._row_hash64((seed or 0) + 0x5B7E, None, hash_fn)
        w = Window.partitionBy(*[F.col(g) for g in groups]).orderBy(
            h.asc(), tiebreak.asc()
        )
        return self._evolve(
            self._df.withColumn("__spg_rn", F.row_number().over(w))
            .filter(F.col("__spg_rn") <= n)
            .drop("__spg_rn")
        )

    def train_test_split(
        self,
        weights: Sequence[float],
        seed: int = 42,
        key: Optional[Sequence[str]] = None,
        hash_fn: str = "xxhash64",
    ) -> list["DataChain"]:
        """Parity: /root/reference/src/datachain/toolkit/split.py:9-105 —
        boundary filters over a deterministic per-row hash (not randomSplit,
        which is partition-dependent)."""
        if len(weights) < 2 or any(w <= 0 for w in weights):
            raise ValueError("weights must be >=2 positive values")
        total = float(sum(weights))
        bucket = F.pmod(self._row_hash64(seed, key, hash_fn), F.lit(2**31)) / F.lit(float(2**31))
        out, lo = [], 0.0
        for w in weights:
            hi = lo + w / total
            cond = (bucket >= lo) & ((bucket < hi) if hi < 1.0 else (bucket <= 1.0))
            out.append(self._evolve(self._df.filter(cond)))
            lo = hi
        return out

    # -------------------------------------------------------------- grouping
    def group_by(
        self,
        *,
        partition_by: Union[ColumnLike, Sequence[ColumnLike], None] = None,
        kind: str = "group",
        **agg_exprs: Union[Column, Col],
    ) -> "DataChain":
        """SQL GROUP BY; omitting partition_by gives a global single-group
        aggregate. Parity: datachain.py:1172-1293 (SQLGroupBy at
        query/dataset.py:1181-1217). Aggregate kwargs are Columns from
        ``datachain_spark.func`` (count/sum/avg/min/max/any_value/collect/
        concat — plus anything Spark offers). ``kind='cube'|'rollup'`` gives
        grouping-set aggregates (absent in the reference — SURVEY.md §2.5
        'not present'; free on Spark, exposed here)."""
        if not agg_exprs:
            raise ValueError("at least one aggregate kwarg is required")
        aggs = [unwrap(v).alias(k) for k, v in agg_exprs.items()]
        keys = _cols(partition_by)
        if not keys:
            return self._evolve(self._df.agg(*aggs))
        if kind == "cube":
            return self._evolve(self._df.cube(*keys).agg(*aggs))
        if kind == "rollup":
            return self._evolve(self._df.rollup(*keys).agg(*aggs))
        return self._evolve(self._df.groupBy(*keys).agg(*aggs))

    def pivot(
        self,
        on: str,
        values: Optional[Sequence[Any]] = None,
        partition_by: Union[ColumnLike, Sequence[ColumnLike], None] = None,
        **agg_exprs: Union[Column, Col],
    ) -> "DataChain":
        """Wide-format aggregation (absent in the reference — SURVEY.md §2.5
        'not present: pivot'; native on Spark). Always pass explicit
        ``values`` at scale: without them Spark runs an extra distinct job
        over the pivot column to discover them. With one aggregate kwarg the
        output columns are the pivot values themselves; with several they
        are ``{value}_{alias}``."""
        if not agg_exprs:
            raise ValueError("at least one aggregate kwarg is required")
        aggs = [unwrap(v).alias(k) for k, v in agg_exprs.items()]
        keys = _cols(partition_by)
        grouped = self._df.groupBy(*keys).pivot(on, list(values) if values else None)
        return self._evolve(grouped.agg(*aggs))

    def flatten_structs(
        self, separator: str = "_", recursive: bool = True
    ) -> "DataChain":
        """Promote struct fields to top-level ``parent{sep}field`` columns
        (arrays/maps stay as-is — explode them deliberately; an empty
        struct contributes no columns). Pure projection, zero shuffles;
        ``recursive`` keeps flattening nested structs until none remain.
        Raises if a flattened name would collide with an existing column
        (silently-duplicate names poison every later reference)."""
        from pyspark.sql import types as T

        df = self._df
        while True:
            structs = [
                f.name for f in df.schema.fields
                if isinstance(f.dataType, T.StructType)
            ]
            if not structs:
                break
            cols, names = [], []
            for f in df.schema.fields:
                if f.name in structs:
                    for sub in f.dataType.fields:
                        new = f"{f.name}{separator}{sub.name}"
                        names.append(new)
                        cols.append(F.col(f"{f.name}.{sub.name}").alias(new))
                else:
                    names.append(f.name)
                    cols.append(F.col(f.name))
            dupes = sorted({n for n in names if names.count(n) > 1})
            if dupes:
                raise ValueError(
                    f"flatten_structs: name collisions {dupes} — pick a "
                    "different separator or rename first"
                )
            df = df.select(*cols)
            if not recursive:
                break
        return self._evolve(df)

    def top_k(
        self,
        partition_by: Union[str, Sequence[str]],
        order_by: Union[str, Sequence[str]],
        k: int,
        descending: bool = True,
        rank_col: Optional[str] = None,
    ) -> "DataChain":
        """Top ``k`` rows per group by ``order_by`` (row_number over one
        window shuffle — the generalized window_top3 pattern; ties break
        by position, deterministically only if ``order_by`` is a total
        order). ``rank_col`` keeps the 1-based rank."""
        if k < 1:
            raise ValueError("top_k: k must be >= 1")
        if "__rk" in self._df.columns:
            raise ValueError("top_k: a '__rk' column already exists")
        if rank_col and rank_col in self._df.columns:
            raise ValueError(f"top_k: column {rank_col!r} already exists")
        parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        ords = [order_by] if isinstance(order_by, str) else list(order_by)
        from pyspark.sql.window import Window

        # NULLS LAST in BOTH directions: Spark's bare asc() is nulls-first,
        # which would put NULL rows into every bottom-k
        cols = [
            F.col(c).desc_nulls_last() if descending else F.col(c).asc_nulls_last()
            for c in ords
        ]
        w = Window.partitionBy(*parts).orderBy(*cols)
        out = self._df.withColumn("__rk", F.row_number().over(w)).filter(
            F.col("__rk") <= k
        )
        if rank_col:
            return self._evolve(out.withColumnRenamed("__rk", rank_col))
        return self._evolve(out.drop("__rk"))

    def unpivot(
        self,
        ids: Union[str, Sequence[str]],
        values: Union[str, Sequence[str]],
        variable_column: str = "variable",
        value_column: str = "value",
    ) -> "DataChain":
        """Long-format melt: one row per (id rows × value column), the
        inverse of :meth:`pivot` (absent in the reference; native on Spark
        — an in-plan Expand, no shuffle). Value columns must share a
        common type (Spark casts numerics up; mixed string/numeric
        raises)."""
        ids = [ids] if isinstance(ids, str) else list(ids)
        values = [values] if isinstance(values, str) else list(values)
        return self._evolve(
            self._df.unpivot(ids, values, variable_column, value_column)
        )

    melt = unpivot

    def fillna(
        self, value: Any, subset: Optional[Sequence[str]] = None
    ) -> "DataChain":
        """Replace NULLs with a constant (dict maps column -> fill value);
        Spark-native, zero shuffle. Absent in the reference (its mutate +
        ifelse covers it row-wise); the pandas-shaped convenience."""
        return self._evolve(self._df.fillna(value, subset=subset))

    def dropna(
        self,
        how: str = "any",
        thresh: Optional[int] = None,
        subset: Optional[Sequence[str]] = None,
    ) -> "DataChain":
        """Drop rows with NULLs (how='any'|'all', optional min-non-null
        thresh, optional column subset); Spark-native, zero shuffle."""
        return self._evolve(self._df.dropna(how=how, thresh=thresh, subset=subset))

    # chain-scalar aggregates (executed immediately; parity datachain.py:2569-2636)
    def count(self) -> int:
        return self._df.count()

    def sum(self, col: ColumnLike):  # noqa: A003
        return self._df.agg(F.sum(to_column(col))).first()[0]

    def avg(self, col: ColumnLike):
        return self._df.agg(F.avg(to_column(col))).first()[0]

    def min(self, col: ColumnLike):  # noqa: A003
        return self._df.agg(F.min(to_column(col))).first()[0]

    def max(self, col: ColumnLike):  # noqa: A003
        return self._df.agg(F.max(to_column(col))).first()[0]

    # ------------------------------------------------------------------ sets
    def union(self, other: "DataChain") -> "DataChain":
        """UNION ALL matched by column name; schemas must carry the same
        column set (parity: datachain.py:1711-1727, mismatch error at
        query/dataset.py:1220-1254)."""
        left, right = set(self._df.columns), set(other._df.columns)
        if left != right:
            raise DatasetMergeError(
                f"union schemas mismatch: only-left={sorted(left - right)} "
                f"only-right={sorted(right - left)}"
            )
        return self._evolve(
            self._df.unionByName(other._df), extra_deps=other._dependencies
        )

    def union_by_name(self, other: "DataChain") -> "DataChain":
        """UNION ALL that RECONCILES schemas: columns present on only one
        side fill with NULL on the other (Spark's allowMissingColumns) —
        the multi-snapshot/multi-source ingestion union where schemas
        evolved between crawls. Use :meth:`union` when a silent NULL fill
        would hide a real schema bug."""
        return self._evolve(
            self._df.unionByName(other._df, allowMissingColumns=True),
            extra_deps=other._dependencies,
        )

    def subtract(
        self,
        other: "DataChain",
        on: Union[str, Sequence[str], None] = None,
        right_on: Union[str, Sequence[str], None] = None,
        null_safe: bool = True,
    ) -> "DataChain":
        """Anti-join with null-safe key comparison. Parity:
        datachain.py:1729-1793 (is_not_distinct_from at
        query/dataset.py:210-292). Default keys = all common columns.
        ``null_safe=False`` uses plain ``=`` so bucketed layouts apply
        (null left keys then survive, standard SQL NOT EXISTS semantics)."""
        lkeys = _names(on)
        rkeys = _names(right_on) or lkeys
        if not lkeys:
            lkeys = rkeys = [c for c in self._df.columns if c in set(other._df.columns)]
            if not lkeys:
                raise DatasetMergeError("subtract: no common columns to compare on")
        if len(lkeys) != len(rkeys):
            raise DatasetMergeError("subtract: on/right_on length mismatch")
        # dotted keys ("file.path"): a bare select keeps only the LEAF name,
        # so alias the right projection to reference-able flat names
        rflat = [rk.replace(".", "__") if "." in rk else rk for rk in rkeys]
        right = other._df.select(
            *[other._df[rk].alias(f) for rk, f in zip(rkeys, rflat)]
        ).dropDuplicates()
        cond = None
        for lk, rf in zip(lkeys, rflat):
            c = (
                self._df[lk].eqNullSafe(right[rf])
                if null_safe
                else (self._df[lk] == right[rf])
            )
            cond = c if cond is None else cond & c
        return self._evolve(
            self._df.join(right, cond, "left_anti"), extra_deps=other._dependencies
        )

    def semi_join(
        self,
        other: "DataChain",
        on: Union[str, Sequence[str], None] = None,
        right_on: Union[str, Sequence[str], None] = None,
        null_safe: bool = True,
    ) -> "DataChain":
        """Keep rows whose key(s) DO appear in ``other`` — the complement of
        subtract(). No reference counterpart (SURVEY.md §2.4 'not present:
        semi join'); exposed because Spark's left_semi is the efficient plan
        for EXISTS-style predicates (no row duplication, right side only
        hashed). Null-safe keys by default, same convention as subtract;
        ``null_safe=False`` uses plain ``=`` so bucketed layouts apply (see
        merge)."""
        lkeys = _names(on)
        rkeys = _names(right_on) or lkeys
        if not lkeys:
            lkeys = rkeys = [c for c in self._df.columns if c in set(other._df.columns)]
            if not lkeys:
                raise DatasetMergeError("semi_join: no common columns to compare on")
        if len(lkeys) != len(rkeys):
            raise DatasetMergeError("semi_join: on/right_on length mismatch")
        # dotted-key right projection: same aliasing as subtract
        rflat = [rk.replace(".", "__") if "." in rk else rk for rk in rkeys]
        right = other._df.select(
            *[other._df[rk].alias(f) for rk, f in zip(rkeys, rflat)]
        ).dropDuplicates()
        cond = None
        for lk, rf in zip(lkeys, rflat):
            c = (
                self._df[lk].eqNullSafe(right[rf])
                if null_safe
                else (self._df[lk] == right[rf])
            )
            cond = c if cond is None else cond & c
        return self._evolve(
            self._df.join(right, cond, "left_semi"), extra_deps=other._dependencies
        )

    def intersect(self, other: "DataChain") -> "DataChain":
        """SQL INTERSECT (distinct rows present in both chains). No reference
        counterpart (SURVEY.md §2.4 'not present: intersect'); free on Spark.
        Same schema contract as union."""
        left, right = set(self._df.columns), set(other._df.columns)
        if left != right:
            raise DatasetMergeError(
                f"intersect schemas mismatch: only-left={sorted(left - right)} "
                f"only-right={sorted(right - left)}"
            )
        return self._evolve(
            self._df.intersect(other._df.select(*self._df.columns)),
            extra_deps=other._dependencies,
        )

    def cross_merge(self, right: "DataChain", rname: str = "right_") -> "DataChain":
        """Cartesian product with merge-style collision prefixing. No
        reference counterpart (SURVEY.md §2.4 'not present: cross join').
        Meant for small×small or broadcast-small×big shapes — at 100 TB the
        planner will broadcast the smaller side; a big×big cross is
        intentionally left to fail on resources rather than hidden."""
        ldf, rdf = self._df, right._df
        if ldf is rdf:
            rdf = rdf.alias("r_clone")
        lcols = set(ldf.columns)
        rsel = [rdf[c].alias(rname + c if c in lcols else c) for c in rdf.columns]
        return self._evolve(
            ldf.crossJoin(rdf.select(*rsel)), extra_deps=right._dependencies
        )

    def merge(
        self,
        right: "DataChain",
        on: Union[str, Sequence, Column, Col, None] = None,
        right_on: Union[str, Sequence, None] = None,
        inner: bool = False,
        full: bool = False,
        rname: str = "right_",
        null_safe: bool = True,
    ) -> "DataChain":
        """Join; default LEFT OUTER (parity: datachain.py:1601-1708,
        SQLJoin at query/dataset.py:1010-1177).

        - ``on`` may be column name(s) — equi-join, null-safe like the
          reference — or arbitrary boolean Column expression(s) (theta joins).
        - right-side columns colliding with left names get the ``rname``
          prefix (signal_schema.py:85-133 rename mapping).
        - self-joins are handled via DataFrame aliasing.
        - ``null_safe=False`` switches key equality from ``<=>`` to ``=``
          (null keys never match — SQL semantics). Do this on non-null id
          keys: plain equality is what lets the planner exploit bucketed
          layouts (``save(bucket_by=...)``) and skip the join shuffle —
          ``<=>``'s required distribution (coalesce+isnull) can never line
          up with bucket hashing.
        """
        how = "inner" if inner else ("full" if full else "left")
        if inner and full:
            raise DatasetMergeError("merge: inner and full are mutually exclusive")
        if on is None:
            raise DatasetMergeError("merge: 'on' is required")

        ldf, rdf = self._df, right._df
        if ldf is rdf:  # self-merge auto-clone (datachain.py:1648)
            rdf = rdf.alias("r_clone")

        # collision prefixing for non-expression joins
        lcols = set(ldf.columns)
        renames: dict[str, str] = {}

        expr_join = isinstance(on, (Column, Col)) or (
            isinstance(on, (list, tuple)) and any(isinstance(o, (Column, Col)) for o in on)
        )

        if expr_join:
            conds = on if isinstance(on, (list, tuple)) else [on]
            cond = None
            for c in conds:
                cc = unwrap(c)
                cond = cc if cond is None else cond & cc
            for c in rdf.columns:
                if c in lcols:
                    renames[c] = rname + c
            lsel = [ldf[c] for c in ldf.columns]
            rsel = [rdf[c].alias(renames.get(c, c)) for c in rdf.columns]
            joined = ldf.join(rdf, cond, how).select(*lsel, *rsel)
            return self._evolve(joined, extra_deps=right._dependencies)

        lkeys = _names(on)
        rkeys = _names(right_on) or lkeys
        if len(lkeys) != len(rkeys):
            raise DatasetMergeError("merge: on/right_on length mismatch")
        # string-alias both sides: unambiguous even for self-joins
        la, ra = ldf.alias("__l"), rdf.alias("__r")
        cond = None
        for lk, rk in zip(lkeys, rkeys):
            lc, rc = F.col(f"__l.{lk}"), F.col(f"__r.{rk}")
            c = lc.eqNullSafe(rc) if null_safe else (lc == rc)
            cond = c if cond is None else cond & c
        for c in rdf.columns:
            if c in lcols:
                renames[c] = rname + c
        lsel = [F.col(f"__l.{c}").alias(c) for c in ldf.columns]
        rsel = [F.col(f"__r.{c}").alias(renames.get(c, c)) for c in rdf.columns]
        joined = la.join(ra, cond, how).select(*lsel, *rsel)
        return self._evolve(joined, extra_deps=right._dependencies)

    # ------------------------------------------------------------------ diff
    def diff(
        self,
        other: "DataChain",
        on: Union[str, Sequence[str]] = "id",
        compare: Union[str, Sequence[str], None] = None,
        added: bool = True,
        deleted: bool = True,
        modified: bool = True,
        same: bool = False,
        status_col: Optional[str] = None,
    ) -> "DataChain":
        """Row-level change detection vs ``other`` (the older version):
        A=added (only here), D=deleted (only in other), M=modified (key match,
        compare-cols differ), S=same. Parity: datachain.py:1795-1861 and
        /root/reference/src/datachain/diff/__init__.py:27-163."""
        from .ops.diff import diff as _diff

        return _diff(
            self, other, on=on, compare=compare, added=added, deleted=deleted,
            modified=modified, same=same, status_col=status_col,
        )

    def compare_and_split(
        self,
        other: "DataChain",
        on: Union[str, Sequence[str]] = "id",
        compare: Union[str, Sequence[str], None] = None,
    ) -> dict[str, "DataChain"]:
        """Parity: diff/__init__.py:166-252."""
        from .ops.diff import compare_and_split as _cas

        return _cas(self, other, on=on, compare=compare)

    def file_diff(self, other: "DataChain", on: str = "file") -> "DataChain":
        """diff keyed on File unique keys (lib/file.py:245-254).
        Parity: datachain.py:1863-1934."""
        keys = [f"{on}.{k}" for k in ("source", "path", "version", "etag")]
        return self.diff(other, on=keys)

    # --------------------------------------------- corpus ops (LLM pipeline)
    # Thin chain-level surface over datachain_spark.ops so the training-data
    # passes compose in the same fluent style as the relational operators:
    # ch.gopher_filter(...).exact_dedup(...).pack_sequences(...). Each
    # delegates to the ops module (the DataFrame-level API stays the
    # canonical, fully-documented form) and re-wraps the result.

    def exact_dedup(self, text_col: str = "text", id_col: Optional[str] = None) -> "DataChain":
        """Exact content dedup on the normalized text fingerprint
        (ops/dedup.exact_dedup)."""
        from .ops.dedup import exact_dedup as _op

        return self._evolve(_op(self._df, text_col=text_col, id_col=id_col))

    def minhash_dedup(self, id_col: str, text_col: str = "text", **kw: Any) -> "DataChain":
        """MinHash+LSH near-dup removal (ops/dedup.minhash_dedup)."""
        from .ops.dedup import minhash_dedup as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def minhash_index(self, id_col: str, text_col: str = "text", **kw: Any) -> "DataChain":
        """Compact per-doc MinHash signature table ``(id, sig)`` — save it
        next to the corpus so later snapshots dedup incrementally without
        rescanning historical text (ops/dedup.minhash_signatures)."""
        from .ops.dedup import minhash_signatures as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def minhash_dedup_incremental(
        self, index: Any, id_col: str, text_col: str = "text", **kw: Any
    ) -> "DataChain":
        """Drop rows that near-duplicate a stored signature index built by
        :meth:`minhash_index` (ops/dedup.minhash_dedup_incremental).
        ``index`` may be a DataChain or a DataFrame of ``(id, sig)``."""
        from .ops.dedup import minhash_dedup_incremental as _op

        idx = index._df if isinstance(index, DataChain) else index
        return self._evolve(_op(self._df, idx, id_col, text_col, **kw))

    def dedup_spans(self, id_col: str, text_col: str = "text", **kw: Any) -> "DataChain":
        """Exact-substring span dedup (ops/dedup.remove_duplicate_spans)."""
        from .ops.dedup import remove_duplicate_spans as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def leakage_safe_split(self, id_col: str, text_col: str = "text", **kw: Any) -> "DataChain":
        """Train/test split near-duplicates can never straddle
        (ops/dedup.leakage_safe_split)."""
        from .ops.dedup import leakage_safe_split as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def dedup_eval(self, id_col: str, text_col: str = "text", **kw: Any) -> "DataChain":
        """Precision/recall of the MinHash-LSH pass vs exact Jaccard
        (ops/dedup.dedup_eval) — run on a sample to calibrate banding."""
        from .ops.dedup import dedup_eval as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def semdedup(self, id_col: str, vec_col: str = "embedding", **kw: Any) -> "DataChain":
        """Semantic (embedding-cluster) dedup (ops/semdedup.semdedup)."""
        from .ops.semdedup import semdedup as _op

        return self._evolve(_op(self._df, id_col, vec_col, **kw))

    def segment_dedup(self, id_col: str, text_col: str = "text", **kw: Any) -> "DataChain":
        """Corpus-wide segment/paragraph dedup (ops/text.segment_dedup)."""
        from .ops.text import segment_dedup as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def strip_boilerplate(
        self, id_col: str, text_col: str = "text", **kw: Any
    ) -> "DataChain":
        """Onion/CCNet boilerplate-line removal — high-document-frequency
        lines stripped from EVERY doc (ops/text.strip_boilerplate)."""
        from .ops.text import strip_boilerplate as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def corpus_overlap(self, other: Any, **kw: Any) -> "DataChain":
        """One-row corpus-level n-gram overlap summary vs another dataset
        (ops/text.corpus_overlap); ``other`` may be a DataChain or
        DataFrame."""
        from .ops.text import corpus_overlap as _op

        return self._evolve(_op(self._df, getattr(other, "df", other), **kw))

    def decontaminate(self, probes: Any, id_col: str, **kw: Any) -> "DataChain":
        """Benchmark decontamination vs a probe set (ops/dedup.decontaminate);
        ``probes`` may be a DataChain or DataFrame."""
        from .ops.dedup import decontaminate as _op

        return self._evolve(_op(self._df, getattr(probes, "df", probes), id_col, **kw))

    def gopher_filter(self, id_col: str, **kw: Any) -> "DataChain":
        """Gopher/MassiveText quality gate (ops/text.gopher_quality_filter)."""
        from .ops.text import gopher_quality_filter as _op

        return self._evolve(_op(self._df, id_col, **kw))

    def c4_clean(self, id_col: str, text_col: str = "text", **kw: Any) -> "DataChain":
        """C4 line-level cleaning + document gate (ops/c4.c4_clean)."""
        from .ops.c4 import c4_clean as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def curation_report(self, id_col: str, text_col: str = "text", **kw: Any) -> "DataChain":
        """Per-stage removal audit of the standard curation gate sequence —
        quality gates, dedup, decontamination — as ONE tiny summary frame
        (ops/curation.curation_report). ``probes`` may be a DataChain or
        DataFrame."""
        from .ops.curation import curation_report as _op

        if "probes" in kw:
            kw["probes"] = getattr(kw["probes"], "df", kw["probes"])
        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def chunk_documents(self, id_col: str, text_col: str = "text", **kw: Any) -> "DataChain":
        """Token-window chunking with overlap (ops/text.chunk_documents)."""
        from .ops.text import chunk_documents as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def bm25_topk(self, query: str, id_col: str, **kw: Any) -> "DataChain":
        """Top-k documents by BM25 relevance (ops/retrieval.bm25_topk)."""
        from .ops.retrieval import bm25_topk as _op

        return self._evolve(_op(self._df, query, id_col, **kw))

    def hybrid_topk(self, vectors: Any, query: str, query_vec: Any,
                    **kw: Any) -> "DataChain":
        """Hybrid lexical+dense top-k: BM25 over THIS chain's text fused
        with cosine distance over ``vectors`` (DataChain or DataFrame)
        by reciprocal-rank fusion (ops/retrieval.hybrid_topk)."""
        from .ops.retrieval import hybrid_topk as _op

        return self._evolve(
            _op(self._df, getattr(vectors, "df", vectors), query,
                query_vec, **kw)
        )

    def mmr_rerank(self, query_vec: Any, id_col: str, **kw: Any) -> "DataChain":
        """Maximal-Marginal-Relevance diversification of a dense top-k
        (ops/similarity.mmr_rerank)."""
        from .ops.similarity import mmr_rerank as _op

        return self._evolve(_op(self._df, query_vec, id_col, **kw))

    def tfidf_keywords(self, id_col: str, **kw: Any) -> "DataChain":
        """Top-k characteristic terms per group by TF-IDF
        (ops/retrieval.tfidf_keywords)."""
        from .ops.retrieval import tfidf_keywords as _op

        return self._evolve(_op(self._df, id_col, **kw))

    def dsir_select(self, target: Any, id_col: str, n: int, **kw: Any) -> "DataChain":
        """DSIR importance-resampled subset vs a target corpus
        (ops/selection.dsir_select); ``target`` may be a DataChain or
        DataFrame."""
        from .ops.selection import dsir_select as _op

        return self._evolve(_op(self._df, getattr(target, "df", target), id_col, n, **kw))

    def select_token_budget(
        self, budget: int, score_col: str, id_col: str, **kw: Any
    ) -> "DataChain":
        """Best-scored documents up to a cumulative token budget
        (ops/selection.select_token_budget) — "take the best N billion
        tokens"."""
        from .ops.selection import select_token_budget as _op

        return self._evolve(_op(self._df, budget, score_col, id_col, **kw))

    def cap_per_group(self, group_cols: Any, id_col: str, **kw: Any) -> "DataChain":
        """Cap each group's contribution best-first — e.g. at most N docs
        or N tokens per URL domain (ops/selection.cap_per_group)."""
        from .ops.selection import cap_per_group as _op

        return self._evolve(_op(self._df, group_cols, id_col, **kw))

    def mine_contrastive_pairs(self, id_col: str, vec_col: str = "embedding",
                               **kw: Any) -> "DataChain":
        """LSH positives + hash-shard verified negatives for contrastive
        training (ops/similarity.mine_contrastive_pairs)."""
        from .ops.similarity import mine_contrastive_pairs as _op

        return self._evolve(_op(self._df, id_col, vec_col, **kw))

    def k_anonymity_report(self, quasi_cols: Any, k: int) -> "DataChain":
        """One-row k-anonymity release gate over quasi-identifier columns
        (ops/privacy.k_anonymity_report)."""
        from .ops.privacy import k_anonymity_report as _op

        return self._evolve(_op(self._df, quasi_cols, k))

    def anonymize_small_groups(self, quasi_cols: Any, k: int, **kw: Any) -> "DataChain":
        """Enforce k-anonymity by dropping or NULLing sub-k groups
        (ops/privacy.anonymize_small_groups)."""
        from .ops.privacy import anonymize_small_groups as _op

        return self._evolve(_op(self._df, quasi_cols, k, **kw))

    def build_inverted_index(self, id_col: str, text_col: str = "text") -> "DataChain":
        """Positional inverted index over a text column
        (ops/retrieval.build_inverted_index) — save it once, run
        phrase/proximity queries against it."""
        from .ops.retrieval import build_inverted_index as _op

        return self._evolve(_op(self._df, id_col, text_col))

    def phrase_search(self, phrase: str, **kw: Any) -> "DataChain":
        """Exact/near phrase query over an inverted-index chain
        (ops/retrieval.phrase_search)."""
        from .ops.retrieval import phrase_search as _op

        return self._evolve(_op(self._df, phrase, **kw))

    def proximity_search(self, terms: Any, window: int) -> "DataChain":
        """All-terms-within-a-window query over an inverted-index chain
        (ops/retrieval.proximity_search)."""
        from .ops.retrieval import proximity_search as _op

        return self._evolve(_op(self._df, terms, window))

    def drift_against(self, reference: Any, cols: Any, **kw: Any) -> "DataChain":
        """Distribution-drift report of THIS chain vs a reference snapshot
        (ops/drift.drift_report); ``reference`` may be a DataChain or
        DataFrame. One row per column with PSI / JS and null-rate shifts."""
        from .ops.drift import drift_report as _op

        ref = getattr(reference, "df", reference)
        return self._evolve(_op(ref, self._df, cols, **kw))

    def check_expectations(self, rules: Any) -> "DataChain":
        """Per-rule data-quality summary (ops/expectations.check): one row
        per rule with n_violations/passed."""
        from .ops.expectations import check as _op

        return self._evolve(_op(self._df, rules))

    def expect_violations(self, rules: Any, **kw: Any) -> "DataChain":
        """Rows failing any row-level expectation, tagged with the failed
        rule names (ops/expectations.violations) — the quarantine path."""
        from .ops.expectations import violations as _op

        return self._evolve(_op(self._df, rules, **kw))

    def normalize_embeddings(self, vec_col: str = "embedding", **kw: Any) -> "DataChain":
        """L2-normalize an embedding column; zero-norm/invalid -> NULL
        (ops/embedding.normalize_embeddings)."""
        from .ops.embedding import normalize_embeddings as _op

        return self._evolve(_op(self._df, vec_col, **kw))

    def pca_transform(self, model: dict, vec_col: str = "embedding", **kw: Any) -> "DataChain":
        """Project embeddings onto a ``pca_train``-fitted basis
        (ops/embedding.pca_transform)."""
        from .ops.embedding import pca_transform as _op

        return self._evolve(_op(self._df, vec_col, model, **kw))

    def random_projection(self, out_dim: int, vec_col: str = "embedding", **kw: Any) -> "DataChain":
        """Training-free +-1 JL projection to ``out_dim`` dims
        (ops/embedding.random_projection)."""
        from .ops.embedding import random_projection as _op

        return self._evolve(_op(self._df, vec_col, out_dim, **kw))

    def perplexity_buckets(self, ppl_col: str, **kw: Any) -> "DataChain":
        """CCNet head/middle/tail label from per-group perplexity quantiles
        (ops/text.perplexity_buckets)."""
        from .ops.text import perplexity_buckets as _op

        return self._evolve(_op(self._df, ppl_col, **kw))

    def curriculum_stages(self, score_col: str, id_col: str, n_stages: int,
                          **kw: Any) -> "DataChain":
        """Quantile difficulty stages + within-stage shuffle key for
        curriculum training order (ops/packing.curriculum_stages)."""
        from .ops.packing import curriculum_stages as _op

        return self._evolve(_op(self._df, score_col, id_col, n_stages, **kw))

    def pack_sequences(self, **kw: Any) -> "DataChain":
        """Concat-and-chunk training-example packing
        (ops/packing.pack_sequences)."""
        from .ops.packing import pack_sequences as _op

        return self._evolve(_op(self._df, **kw))

    def html_extract(self, id_col: str, html_col: str = "html", **kw: Any) -> "DataChain":
        """HTML -> visible text + title + structural signals
        (ops/html.html_extract) — the web-corpus boilerplate-strip step."""
        from .ops.html import html_extract as _op

        return self._evolve(_op(self._df, id_col, html_col, **kw))

    def normalize_text(self, text_col: str = "text", out_col: Optional[str] = None,
                       **kw: Any) -> "DataChain":
        """Canonical dedup-key form of a text column in place (or into
        ``out_col``): lower -> accent fold -> punct strip -> whitespace
        collapse (ops/text.normalize_text)."""
        from .ops.text import normalize_text as _op

        return self._evolve(
            self._df.withColumn(out_col or text_col, _op(text_col, **kw))
        )

    def rolling_stats(self, partition_by: Any, time_col: str, value_col: str,
                      window_seconds: int, **kw: Any) -> "DataChain":
        """Per-entity trailing time-window count/sum/avg/min/max columns
        (ops/timeseries.rolling_stats)."""
        from .ops.timeseries import rolling_stats as _op

        return self._evolve(
            _op(self._df, partition_by, time_col, value_col, window_seconds, **kw)
        )

    def sample_n(self, n: int, id_col: str, seed: int = 42,
                 hash_fn: str = "xxhash64") -> "DataChain":
        """Exactly ``n`` rows drawn uniformly without replacement —
        deterministic (seeded id-hash A-ES with unit weights; larger n is
        a superset, a TakeOrderedAndProject cut, never rand())."""
        from .ops.selection import weighted_sample as _op

        out = _op(
            self._df.withColumn("__w1", F.lit(1.0)), "__w1", n, id_col,
            seed=seed, hash_fn=hash_fn,
        )
        return self._evolve(out.drop("__w1", "sample_key"))

    def weighted_sample(self, weight_col: str, n: int, id_col: str,
                        **kw: Any) -> "DataChain":
        """Draw n rows with probability proportional to ``weight_col``
        (ops/selection.weighted_sample — deterministic A-ES keys)."""
        from .ops.selection import weighted_sample as _op

        return self._evolve(_op(self._df, weight_col, n, id_col, **kw))

    def compression_ratio(self, id_col: str, text_col: str = "text",
                          **kw: Any) -> "DataChain":
        """Per-doc zlib redundancy signal (ops/text.compression_ratio) —
        templated/machine text compresses far below prose."""
        from .ops.text import compression_ratio as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def kwic(self, term: str, id_col: str, text_col: str = "text",
             **kw: Any) -> "DataChain":
        """Keyword-in-context occurrences with ±window-word snippets
        (ops/retrieval.kwic) — the blocklist/PII-rule review surface."""
        from .ops.retrieval import kwic as _op

        return self._evolve(_op(self._df, term, id_col, text_col, **kw))

    def vocab_coverage(self, vocab: Any, id_col: str,
                       text_col: str = "text", **kw: Any) -> "DataChain":
        """Per-doc OOV rate against a word vocabulary
        (ops/tokenize.vocab_coverage)."""
        from .ops.tokenize import vocab_coverage as _op

        return self._evolve(
            _op(self._df, getattr(vocab, "df", vocab), id_col, text_col, **kw)
        )

    def hash_embed(self, id_col: str, text_col: str = "text",
                   **kw: Any) -> "DataChain":
        """Model-free hashed document vectors (ops/embedding.hash_embed) —
        feeds cosine_topk/semdedup/ann with zero model dependencies."""
        from .ops.embedding import hash_embed as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def classification_report(self, label_col: str, pred_col: str) -> "DataChain":
        """Per-class precision/recall/F1 from one scan
        (ops/evaluation.classification_report)."""
        from .ops.evaluation import classification_report as _op

        return self._evolve(_op(self._df, label_col, pred_col))

    def pr_at_thresholds(self, label_col: str, score_col: str,
                         thresholds: Sequence[float], **kw: Any) -> "DataChain":
        """Gate-calibration table: precision/recall/F1 of score >= t per
        threshold, one aggregation (ops/evaluation.pr_at_thresholds)."""
        from .ops.evaluation import pr_at_thresholds as _op

        return self._evolve(_op(self._df, label_col, score_col, thresholds, **kw))

    def regression_metrics(self, label_col: str, pred_col: str) -> "DataChain":
        """(n, mae, rmse, r2) in one exact-DECIMAL aggregation
        (ops/evaluation.regression_metrics)."""
        from .ops.evaluation import regression_metrics as _op

        return self._evolve(_op(self._df, label_col, pred_col))

    def impute(self, cols: Sequence[str], strategy: str = "mean",
               group_cols: Any = None, **kw: Any) -> "DataChain":
        """Fill NULLs from per-group mean/median statistics
        (ops/expectations.impute)."""
        from .ops.expectations import impute as _op

        return self._evolve(_op(self._df, cols, strategy, group_cols, **kw))

    def corr_matrix(self, cols: Sequence[str]) -> "DataChain":
        """Pairwise Pearson correlations in one aggregation pass
        (ops/expectations.corr_matrix)."""
        from .ops.expectations import corr_matrix as _op

        return self._evolve(_op(self._df, cols))

    def flatten_turns(self, id_col: str, messages_col: str = "messages") -> "DataChain":
        """One row per conversation turn (ops/conversations.flatten_turns)."""
        from .ops.conversations import flatten_turns as _op

        return self._evolve(_op(self._df, id_col, messages_col))

    def extract_pairs(self, id_col: str, messages_col: str = "messages",
                      **kw: Any) -> "DataChain":
        """Adjacent user->assistant training pairs
        (ops/conversations.extract_pairs)."""
        from .ops.conversations import extract_pairs as _op

        return self._evolve(_op(self._df, id_col, messages_col, **kw))

    def conversation_stats(self, id_col: str, messages_col: str = "messages",
                           **kw: Any) -> "DataChain":
        """Per-conversation structure audit — turn counts, alternation
        violations (ops/conversations.conversation_stats)."""
        from .ops.conversations import conversation_stats as _op

        return self._evolve(_op(self._df, id_col, messages_col, **kw))

    def render_chat(self, id_col: str, messages_col: str = "messages",
                    **kw: Any) -> "DataChain":
        """Render conversations to single training strings via a turn
        template (ops/conversations.render_chat)."""
        from .ops.conversations import render_chat as _op

        return self._evolve(_op(self._df, id_col, messages_col, **kw))

    def resample_events(self, partition_by: Any, time_col: str,
                        value_col: str, every_seconds: int,
                        **kw: Any) -> "DataChain":
        """Regular per-entity time grid with optional gap fill
        (ops/timeseries.resample_events)."""
        from .ops.timeseries import resample_events as _op

        return self._evolve(
            _op(self._df, partition_by, time_col, value_col, every_seconds, **kw)
        )

    def funnel(self, partition_by: Any, time_col: str, event_col: str,
               steps: Sequence[str]) -> "DataChain":
        """Per-entity ordered conversion funnel (ops/timeseries.funnel):
        first qualifying time per step + steps_reached."""
        from .ops.timeseries import funnel as _op

        return self._evolve(_op(self._df, partition_by, time_col, event_col, steps))

    def cohort_retention(self, partition_by: Any, time_col: str,
                         period_seconds: int, **kw: Any) -> "DataChain":
        """Cohort retention triangle (ops/timeseries.cohort_retention):
        (cohort, period_offset, n_entities)."""
        from .ops.timeseries import cohort_retention as _op

        return self._evolve(_op(self._df, partition_by, time_col, period_seconds, **kw))

    def flag_outliers(self, value_col: str, group_cols: Any = None,
                      **kw: Any) -> "DataChain":
        """Tag rows outside the per-group Tukey/z-score fence
        (ops/sketches.flag_outliers); adds fence columns + the flag."""
        from .ops.sketches import flag_outliers as _op

        return self._evolve(_op(self._df, value_col, group_cols, **kw))

    def mix_to_target(self, group_col: str, target_props: dict,
                      id_col: str, **kw: Any) -> "DataChain":
        """Water-filling downsample so group composition matches a target
        spec (ops/packing.mix_to_target)."""
        from .ops.packing import mix_to_target as _op

        return self._evolve(_op(self._df, group_col, target_props, id_col, **kw))

    def weighted_sample_per_group(self, group_cols: Any, weight_col: str,
                                  n: int, id_col: str, **kw: Any) -> "DataChain":
        """n rows per group, probability proportional to weight
        (ops/selection.weighted_sample_per_group)."""
        from .ops.selection import weighted_sample_per_group as _op

        return self._evolve(_op(self._df, group_cols, weight_col, n, id_col, **kw))

    def group_quantiles(self, group_cols: Any, value_col: str,
                        **kw: Any) -> "DataChain":
        """Exact interpolated per-group percentiles, one (group, q) row
        each (ops/sketches.group_quantiles)."""
        from .ops.sketches import group_quantiles as _op

        return self._evolve(_op(self._df, group_cols, value_col, **kw))

    def describe(self, columns: Optional[Sequence[str]] = None) -> "DataChain":
        """pandas-style numeric summary — count/mean/stddev/min/quartiles/
        max per column from ONE aggregation (ops/profile.describe)."""
        from .ops.profile import describe as _op

        return self._evolve(_op(self._df, columns))

    def digest(self, columns: Optional[Sequence[str]] = None,
               **kw: Any) -> "DataChain":
        """Order-invariant content checksum (n_rows, digest) of this chain
        (ops/profile.dataset_digest) — compare copies/migrations cheaply."""
        from .ops.profile import dataset_digest as _op

        return self._evolve(_op(self._df, columns, **kw))

    def extract_links(self, id_col: str, html_col: str = "html",
                      **kw: Any) -> "DataChain":
        """(id, pos, url) anchor-href edges from an HTML column
        (ops/html.extract_links) — feeds pagerank/degrees."""
        from .ops.html import extract_links as _op

        return self._evolve(_op(self._df, id_col, html_col, **kw))

    def bloom_semi_join(self, small: Any, on: Any, how: str = "left_semi",
                        **kw: Any) -> "DataChain":
        """Exact semi/anti join with a broadcast Bloom pre-filter pruning
        this (big) side before any shuffle (ops/dedup.bloom_semi_join)."""
        from .ops.dedup import bloom_semi_join as _op

        return self._evolve(
            _op(self._df, getattr(small, "df", small), on, how, **kw)
        )

    def salted_join(self, right: Any, on: Any, how: str = "inner",
                    salt: int = 16) -> "DataChain":
        """Skew-resistant equi-join against a smaller right side
        (ops/asof.salted_join): the hot key spreads over ``salt`` reducers;
        result row-identical to the plain join."""
        from .ops.asof import salted_join as _op

        return self._evolve(
            _op(self._df, getattr(right, "df", right), on, how, salt)
        )

    def script_profile(self, id_col: str, text_col: str = "text",
                       **kw: Any) -> "DataChain":
        """Per-document Unicode-script census + dominant script label
        (ops/text.script_profile)."""
        from .ops.text import script_profile as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def sniff_mime(self, data_col: str = "content", **kw: Any) -> "DataChain":
        """Magic-byte content-type detection on a binary column
        (ops/multimodal.sniff_mime) — zero-shuffle codegen expressions."""
        from .ops.multimodal import sniff_mime as _op

        return self._evolve(_op(self._df, data_col, **kw))

    def stratified_split(self, strata_cols: Any, weights: Sequence[float],
                         id_col: str, **kw: Any) -> "DataChain":
        """Exact per-stratum train/val/test proportions via hash-ranked
        cuts (ops/splits.stratified_split); adds a split label column."""
        from .ops.splits import stratified_split as _op

        return self._evolve(_op(self._df, strata_cols, weights, id_col, **kw))

    def kfold_assign(self, id_col: str, k: int, **kw: Any) -> "DataChain":
        """Deterministic k-fold ids, optionally exactly balanced within
        strata (ops/splits.kfold_assign)."""
        from .ops.splits import kfold_assign as _op

        return self._evolve(_op(self._df, id_col, k, **kw))

    def calibrate_scores(self, score_col: str, group_cols: Any = None,
                         **kw: Any) -> "DataChain":
        """Percent-rank a raw score within each group so one global
        threshold works across groups (ops/selection.calibrate_scores)."""
        from .ops.selection import calibrate_scores as _op

        return self._evolve(_op(self._df, score_col, group_cols, **kw))

    def apply_changes(self, changes: Any, keys: Any, **kw: Any) -> "DataChain":
        """Fold an I/U/D change feed into this snapshot (ops/cdc
        .apply_changes); ``changes`` may be a DataChain or DataFrame."""
        from .ops.cdc import apply_changes as _op

        return self._evolve(_op(self._df, getattr(changes, "df", changes), keys, **kw))

    def fuzzy_dedup_pairs(self, id_col: str, text_col: str = "text",
                          **kw: Any) -> "DataChain":
        """Near-identical pairs within Levenshtein distance k
        (ops/fuzzy.fuzzy_dedup_pairs) — typo-level record linkage."""
        from .ops.fuzzy import fuzzy_dedup_pairs as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def resolve_entities(self, id_col: str, text_col: str = "text",
                         **kw: Any) -> "DataChain":
        """Cluster rows whose strings are within edit distance k and tag
        each with its cluster representative (ops/fuzzy.resolve_entities)."""
        from .ops.fuzzy import resolve_entities as _op

        return self._evolve(_op(self._df, id_col, text_col, **kw))

    def nb_classify(self, model: Any, id_col: str, **kw: Any) -> "DataChain":
        """Score every doc against a broadcast Naive-Bayes model
        (ops/classify.nb_classify); ``model`` may be a DataChain or
        DataFrame from ``classify.nb_train``."""
        from .ops.classify import nb_classify as _op

        return self._evolve(_op(self._df, getattr(model, "df", model), id_col, **kw))

    def nb_filter(self, model: Any, id_col: str, keep_label: str, **kw: Any) -> "DataChain":
        """Classifier quality gate: keep docs the NB model assigns
        ``keep_label`` (ops/classify.nb_filter)."""
        from .ops.classify import nb_filter as _op

        return self._evolve(
            _op(self._df, getattr(model, "df", model), id_col, keep_label, **kw)
        )

    # ------------------------------------------------------------------- UDF
    def map(
        self,
        func: Optional[Callable] = None,
        params: Union[str, Sequence[str], None] = None,
        output: Any = None,
        on_error: str = "raise",
        **signal_map: Callable,
    ) -> "DataChain":
        """1:1 Python UDF adding signal columns. Parity:
        datachain.py:809-861. ``.map(name=fn, output=type)`` names the single
        output column 'name'. ``on_error='null'|'collect'`` gives
        process_safe-style error capture (lib/udf.py:315-392) — 'collect'
        writes the error string into the LAST declared output column, the
        shape delta_retry consumes."""
        func, default_name = self._resolve_signal_map(func, signal_map)
        param_names = infer_params(func, _names(params) or None, exclude=set(self._setup_values))
        out_struct = normalize_output(func, output, default_name)
        fn = build_map_fn(func, param_names, out_struct, setup=self._setup_values,
                          on_error=on_error, cache=bool(self._settings.get("cache")),
                          prefetch=int(self._settings.get("prefetch") or 0),
                          file_params=_file_struct_params(self._df.schema, param_names),
                          param_models=infer_param_models(
                              func, param_names, exclude=set(self._setup_values)))
        # narrow boundary (guide §4.1): when every param is a JVM-resolvable
        # non-struct value, ship ONLY the params to Python and return the
        # outputs as one struct; pass-through columns stay in the JVM, so the
        # scan prunes to what the query actually reads
        args = self._narrow_boundary_args(param_names)
        if args is not None:
            out_names = [f.name for f in out_struct.fields]
            return self._evolve(self._attach_struct_outputs(
                struct_boundary_fn(fn, param_names, out_names),
                args, out_struct, override=True))
        from pyspark.sql.types import StructType

        # output pdf keeps input column order; an output that overrides an
        # existing column stays in place with the new type, new ones append
        out_by_name = {f.name: f for f in out_struct.fields}
        fields = [out_by_name.pop(f.name, f) for f in self._df.schema.fields]
        new_schema = StructType(fields + [f for f in out_struct.fields if f.name in out_by_name])
        return self._evolve(self._df.mapInPandas(fn, new_schema))

    def _narrow_boundary_args(self, param_names: Sequence[str]):
        """Column expressions handing each param to the narrow (pandas_udf)
        Python boundary, or None when the wide mapInPandas path must stay:
        no params, a struct/map-typed param (File hydration and model
        params see struct cells as dicts — a representation only the wide
        path provides), an unresolvable name, or an explicit opt-out via
        DATACHAIN_SPARK_MAP_BOUNDARY=wide (the A/B and regression-test
        escape hatch)."""
        if os.environ.get("DATACHAIN_SPARK_MAP_BOUNDARY", "").lower() in (
            "wide", "mapinpandas",
        ):
            return None
        if not param_names:
            return None
        from pyspark.sql import types as T

        args = []
        for p in param_names:
            dt, expr = _resolve_param_expr(self._df.schema, p)
            if dt is None or isinstance(dt, (T.StructType, T.MapType)):
                return None
            args.append(expr)
        return args

    def _attach_struct_outputs(self, fn, args, out_struct, override: bool):
        """Apply the narrow-boundary UDF and splice its struct fields back
        into the row: overridden input columns keep their position (with the
        declared output type), new outputs append in declaration order —
        byte-identical layout to the wide path's output schema."""
        from pyspark.sql.functions import pandas_udf

        # nondeterministic = evaluate at most once and never reorder across
        # filters (guide §4.4) — the same barrier semantics the wide
        # mapInPandas path has today
        udf_col = pandas_udf(fn, returnType=out_struct).asNondeterministic()
        tmp = "__udf_struct__"
        existing = set(self._df.columns)
        while tmp in existing:
            tmp += "_"
        df = self._df.withColumn(tmp, udf_col(*args))
        out_names = {f.name for f in out_struct.fields}
        cols = []
        for f in self._df.schema.fields:
            if override and f.name in out_names:
                cols.append(df[tmp].getField(f.name).alias(f.name))
            else:
                cols.append(F.col(_quoted(f.name)))
        cols.extend(
            df[tmp].getField(f.name).alias(f.name)
            for f in out_struct.fields
            if not override or f.name not in existing
        )
        return df.select(*cols)

    def gen(
        self,
        func: Optional[Callable] = None,
        params: Union[str, Sequence[str], None] = None,
        output: Any = None,
        **signal_map: Callable,
    ) -> "DataChain":
        """1:N generator UDF; output schema replaces the input schema.
        Parity: datachain.py:862-900 (RowGenerator at
        query/dataset.py:740-781)."""
        func, default_name = self._resolve_signal_map(func, signal_map)
        param_names = infer_params(func, _names(params) or None, exclude=set(self._setup_values))
        out_struct = normalize_output(func, output, default_name)
        fn = build_gen_fn(func, param_names, out_struct, setup=self._setup_values,
                          cache=bool(self._settings.get("cache")),
                          prefetch=int(self._settings.get("prefetch") or 0),
                          file_params=_file_struct_params(self._df.schema, param_names),
                          param_models=infer_param_models(
                              func, param_names, exclude=set(self._setup_values)))
        # gen's output REPLACES the input schema, so Spark must otherwise
        # ship EVERY input column through the Python boundary even though
        # the function reads only its params — an opaque map defeats
        # Catalyst's column pruning (guide §4.1). Project the param root
        # columns explicitly before the boundary.
        src = self._project_udf_params(param_names)
        return self._evolve(src.mapInPandas(fn, out_struct))

    def _project_udf_params(self, param_names: Sequence[str]):
        """The narrowest frame that still answers ``param_names``: plain
        params keep their column; dotted params whose terminal fields are
        plain (non-struct/map) values keep their root as a pruned struct
        holding JUST those fields — the rest of the struct stays out of the
        Python boundary, and _extract_param walks the pruned struct as it
        would the whole one. (A flat column aliased to the dotted name
        would not survive: mapInPandas/applyInPandas re-select every input
        column unquoted, so ``file.path`` would parse as a nested field.)
        Dotted params with struct terminals keep their whole root
        (hydration consumes the dict rendering). Falls back to the full
        frame when a param is unresolvable (the UDF raises its own
        KeyError) or nothing narrows."""
        if not param_names:
            return self._df
        from pyspark.sql import types as T

        whole: list[str] = []
        # root -> nested field tree of the narrowed paths (leaf = None)
        narrow: dict[str, dict] = {}
        for p in param_names:
            if p in self._df.columns:
                if p not in whole:
                    whole.append(p)
                continue
            dt, _ = _resolve_param_expr(self._df.schema, p)
            root, *rest = p.split(".")
            if dt is not None and not isinstance(dt, (T.StructType, T.MapType)):
                node = narrow.setdefault(root, {})
                *path, leaf = rest
                for part in path:
                    node = node.setdefault(part, {})
                node[leaf] = None
                continue
            if root in self._df.columns:
                if root not in whole:
                    whole.append(root)
            else:
                return self._df
        if not narrow and len(whole) == len(self._df.columns):
            return self._df

        def pruned(expr: Column, tree: dict) -> Column:
            return F.struct(*[
                (expr.getField(k) if sub is None
                 else pruned(expr.getField(k), sub)).alias(k)
                for k, sub in tree.items()
            ])

        cols = [F.col(_quoted(c)) for c in self._df.columns if c in set(whole)]
        cols.extend(
            pruned(F.col(_quoted(root)), tree).alias(root)
            for root, tree in narrow.items() if root not in whole
        )
        return self._df.select(*cols)

    def agg(
        self,
        func: Optional[Callable] = None,
        partition_by: Union[ColumnLike, Sequence[ColumnLike], None] = None,
        params: Union[str, Sequence[str], None] = None,
        output: Any = None,
        **signal_map: Callable,
    ) -> "DataChain":
        """Python aggregator over groups (N:M). Parity:
        datachain.py:901-1035; executed as native groupBy().applyInPandas
        instead of the reference's dense_rank partition table
        (query/dataset.py:582-615)."""
        func, default_name = self._resolve_signal_map(func, signal_map)
        param_names = infer_params(func, _names(params) or None, exclude=set(self._setup_values))
        out_struct = normalize_output(func, output, default_name)
        fn = build_agg_fn(func, param_names, out_struct, setup=self._setup_values,
                          cache=bool(self._settings.get("cache")),
                          param_models=infer_param_models(
                              func, param_names, exclude=set(self._setup_values)))
        if partition_by is None:
            # global single group: constant grouping column (groupBy on a
            # bare literal is not a valid grouping attribute). agg's
            # output replaces the schema, so only the param roots need to
            # cross the shuffle + Python boundary (guide §2.3/§4.1)
            df = self._project_udf_params(param_names).withColumn(
                "__grp__", F.lit(1)
            )
            return self._evolve(df.groupBy("__grp__").applyInPandas(fn, out_struct))
        keys = _cols(partition_by)
        # expression keys must stay resolvable; prune only when every key
        # is a plain existing column name
        key_names = [k for k in (partition_by if isinstance(partition_by, (list, tuple)) else [partition_by]) if isinstance(k, str)]
        if len(key_names) == len(keys) and all(
            k in self._df.columns for k in key_names
        ):
            src = self._project_udf_params(list(param_names) + key_names)
            return self._evolve(
                src.groupBy(*keys).applyInPandas(fn, out_struct)
            )
        return self._evolve(self._df.groupBy(*keys).applyInPandas(fn, out_struct))

    def batch_map(
        self,
        func: Optional[Callable] = None,
        params: Union[str, Sequence[str], None] = None,
        output: Any = None,
        batch: int = 1000,
        **signal_map: Callable,
    ) -> "DataChain":
        """Batched 1:1 UDF. Parity: datachain.py:1037-1084 (deprecated there,
        kept for coverage). Arrow batch size governs actual batching."""
        func, default_name = self._resolve_signal_map(func, signal_map)
        param_names = infer_params(func, _names(params) or None)
        out_struct = normalize_output(func, output, default_name)
        fn = build_batch_map_fn(func, param_names, out_struct)
        # narrow boundary, same as map() (guide §4.1); batch_map only ever
        # appends outputs, so existing columns are never overridden
        args = self._narrow_boundary_args(param_names)
        if args is not None:
            out_names = [f.name for f in out_struct.fields]
            return self._evolve(self._attach_struct_outputs(
                struct_boundary_fn(fn, param_names, out_names),
                args, out_struct, override=False))
        from pyspark.sql.types import StructType

        new_schema = StructType(list(self._df.schema.fields) + list(out_struct.fields))
        return self._evolve(self._df.mapInPandas(fn, new_schema))

    def map_arrow(
        self,
        fn: Callable,
        output=None,
    ) -> "DataChain":
        """Arrow-NATIVE batch transform (Spark ``mapInArrow``): ``fn``
        receives an iterator of ``pyarrow.RecordBatch`` and yields
        ``RecordBatch``es matching ``output`` (a DDL string /
        StructType; default: the current schema, i.e. a pure per-batch
        rewrite). The fast path for BINARY-heavy columns — image/audio/
        video payloads stay in Arrow buffers end-to-end instead of
        being boxed into per-row pandas Python objects the way
        ``map``/``batch_map``'s mapInPandas path pays twice per batch; on
        multimodal blobs the conversion itself often dominates the
        kernel. Use ``map``/``gen`` for column-wise scalar logic (pandas
        ergonomics win there); use this when the batch IS the payload.

        No reference counterpart (its UDFs are row Python objects —
        lib/udf.py); this is the Spark-native escape hatch one level
        below Pandas UDFs.
        """
        from pyspark.sql import types as T
        from pyspark.sql.types import StructType

        if output is None:
            schema = self._df.schema
        elif isinstance(output, StructType):
            schema = output
        elif isinstance(output, str):
            schema = T._parse_datatype_string(output)
        else:
            raise TypeError(
                "map_arrow: output must be None, a DDL string, or a "
                f"StructType (got {type(output).__name__})"
            )
        return self._evolve(self._df.mapInArrow(fn, schema))

    @staticmethod
    def _resolve_signal_map(func, signal_map):
        if func is None and len(signal_map) == 1:
            name, fn = next(iter(signal_map.items()))
            return fn, name
        if func is None:
            raise ValueError("a UDF callable is required")
        return func, "result"

    # ----------------------------------------------------------------- sinks
    def save(
        self,
        name: str,
        version: Optional[str] = None,
        update_version: str = "patch",
        attrs: Optional[dict[str, Any]] = None,
        description: str = "",
        bucket_by: Optional[Sequence[str]] = None,
        num_buckets: int = 16,
        bucket_sort: Optional[Sequence[str]] = None,
        zorder_by: Optional[Sequence[str]] = None,
        zorder_bits: int = 8,
        zorder_files: Optional[int] = None,
        zorder_strategy: str = "minmax",
        schema_policy: str = "any",
        zone_index: Optional[Sequence[str]] = None,
    ) -> "DataChain":
        """Materialize as a new dataset version; returns a chain reading the
        saved data. Parity: datachain.py:602-673.

        ``schema_policy`` guards scheduled re-saves against accidental
        breaking changes vs the dataset's latest version: ``"additive"``
        (existing columns keep name+type, new ones allowed) or
        ``"strict"`` (exact schema); violations raise before any write.

        ``zone_index=[cols]`` builds the file-level zone map of the new
        version right after the write (Metastore.zone_index_dataset) so
        ``read_dataset(prune=...)`` works immediately — pair with
        ``zorder_by`` on the same columns for tight zones.

        Scale extras beyond the reference: ``bucket_by`` stores the version
        bucketed (hash-clustered files + catalog CLUSTERED BY registration)
        so downstream equi-joins/aggs on the bucket key run with NO shuffle
        when both sides share the layout — pre-pay one shuffle at write time,
        amortized over every co-located join after. ``zorder_by`` stores it
        Morton-clustered instead (ops/zorder) so scans filtered on ANY of
        the listed columns prune files/row-groups — the multi-column
        data-skipping layout; mutually exclusive with ``bucket_by`` (one
        physical order per version)."""
        from .schema import serialize_signals

        if zorder_by and bucket_by:
            raise ValueError(
                "zorder_by and bucket_by are mutually exclusive — one "
                "physical layout per version"
            )
        live_models = self._live_signal_models()
        dv = self.session.metastore.save_dataset(
            self._laid_out(zorder_by, zorder_bits, zorder_files, zorder_strategy),
            name, version=version, update_version=update_version,
            attrs=attrs, description=description, dependencies=self._dependencies,
            bucket_by=list(bucket_by) if bucket_by else None,
            num_buckets=num_buckets,
            bucket_sort=list(bucket_sort) if bucket_sort else None,
            signal_schema=serialize_signals(live_models) if live_models else None,
            schema_policy=schema_policy,
        )
        return self._version_chain(name, dv, zone_index)

    def _live_signal_models(self) -> dict[str, type]:
        return {
            c: m for c, m in self._signal_models.items() if c in self._df.columns
        }

    def _laid_out(
        self,
        zorder_by: Optional[Sequence[str]] = None,
        zorder_bits: int = 8,
        zorder_files: Optional[int] = None,
        zorder_strategy: str = "minmax",
    ) -> DataFrame:
        """The frame a version write persists: this chain's, Morton-
        clustered when ``zorder_by`` is set (see :meth:`save`)."""
        if not zorder_by:
            return self._df
        from .ops.zorder import zorder_layout

        return zorder_layout(
            self._df, zorder_by, bits=zorder_bits,
            num_partitions=zorder_files, strategy=zorder_strategy,
        )

    def _version_chain(
        self, name: str, dv, zone_index: Optional[Sequence[str]] = None
    ) -> "DataChain":
        """The tail of every version write (:meth:`save` and delta_save's
        by-reference write): build the requested zone map of the new
        version, then return a chain reading the stored version verbatim,
        with this chain's settings and signal models."""
        from .catalog.metastore import split_name

        if zone_index:
            self.session.metastore.zone_index_dataset(
                self.session.spark, name, list(zone_index),
                version=dv.version,
            )
        df, _, _ = self.session.metastore.load_dataset(self.session.spark, name, dv.version)
        out = DataChain(
            df, self.session, self._settings,
            [{"dataset": name, "version": dv.version}],
        )
        out._signal_models = self._live_signal_models()
        ns, proj, base = split_name(name)
        out._dataset_info = {
            "name": name, "version": dv.version, "namespace": ns, "project": proj,
        }
        # the returned chain reads the stored version verbatim — same
        # pin-not-copy marker read_dataset sets (see delta_save)
        out._pristine_version_read = True
        return out

    def persist(self) -> "DataChain":
        """Session-temporary materialization. Parity: datachain.py:570-588;
        temp naming query/session.py:222-231."""
        name = self.session.generate_temp_dataset_name()
        out = self.save(name)
        self.session.register_temp(name)
        return out

    def broadcast(self) -> "DataChain":
        """Hint Catalyst to broadcast this side of subsequent joins (small
        dimension tables at 100 TB). The reference has no join-strategy
        surface (SQLite picks); on Spark this is the explicit knob."""
        return self._evolve(F.broadcast(self._df))

    def cache(self) -> "DataChain":
        """Spark-native in-memory persistence (no reference counterpart;
        cheaper than persist() when re-used within one session)."""
        return self._evolve(self._df.cache())

    def repartition(self, num_or_col, *cols) -> "DataChain":
        """Explicit re-shuffle: a partition count, hash columns, or both —
        the pre-join/pre-write layout knob (no reference counterpart; the
        SQLite engine has no partitioning). An explicit count is exempt
        from AQE coalescing."""
        return self._evolve(self._df.repartition(num_or_col, *cols))

    def coalesce(self, num: int) -> "DataChain":
        """Shrink partition count WITHOUT a shuffle (narrow) — the
        small-output write knob."""
        return self._evolve(self._df.coalesce(num))

    def hint(self, name: str, *params) -> "DataChain":
        """Pass a Catalyst hint through ("merge", "shuffle_hash",
        "shuffle_replicate_nl", "rebalance", ...) — the escape hatch when
        AQE's strategy choice needs overriding for one join."""
        return self._evolve(self._df.hint(name, *params))

    def exec(self) -> "DataChain":  # noqa: A003
        """Force execution. Parity: datachain.py:2875."""
        self._df.count()
        return self

    def to_parquet(
        self,
        path: str,
        partition_cols: Optional[Sequence[str]] = None,
        mode: str = "overwrite",
        sort_by: Optional[Sequence[str]] = None,
        max_records_per_file: Optional[int] = None,
        zorder_by: Optional[Sequence[str]] = None,
        zorder_bits: int = 8,
        zorder_files: Optional[int] = None,
        zorder_strategy: str = "minmax",
    ) -> None:
        """Parity: datachain.py:2217-2314 — distributed write, partitioned
        layout supported. Scale extras beyond the reference:

        - ``sort_by``: cluster rows within each output file
          (sortWithinPartitions — no extra shuffle) so parquet row-group
          min/max statistics prune reads on those columns downstream.
        - ``zorder_by``: Morton-curve clustering across SEVERAL columns
          (ops/zorder) — file/row-group min/max stays tight on every listed
          column at once, so scans filtered on any of them prune; one range
          shuffle. ``zorder_files`` pins the output file count (an explicit
          partition count is exempt from AQE coalescing — without it, AQE
          merges small ranges and a toy-scale write lands in one file).
          Mutually exclusive with ``sort_by``.
        - ``max_records_per_file``: bound file size so a downstream
          1000-executor scan gets even splits (no multi-GB straggler files).
        """
        df = self._df
        if zorder_by:
            if sort_by:
                raise ValueError("zorder_by and sort_by are mutually exclusive")
            if partition_cols:
                # the global __zkey range shuffle ignores hive partitioning:
                # every range task would write a fragment into every
                # partition directory it touches — a small-file explosion,
                # the opposite of clustering. Z-order within partitions =
                # write per partition, or zorder_by WITH the partition
                # column listed first and no partition_cols.
                raise ValueError(
                    "zorder_by does not compose with partition_cols — "
                    "include the partition column in zorder_by instead, or "
                    "write each partition separately"
                )
            from .ops.zorder import zorder_layout

            df = zorder_layout(
                df, zorder_by, bits=zorder_bits, num_partitions=zorder_files,
                strategy=zorder_strategy,
            )
        self._write_columnar(
            df, path, "parquet", partition_cols, mode, sort_by,
            max_records_per_file,
        )

    def _write_columnar(
        self,
        df,
        path: str,
        fmt: str,
        partition_cols: Optional[Sequence[str]],
        mode: str,
        sort_by: Optional[Sequence[str]],
        max_records_per_file: Optional[int],
    ) -> None:
        """Shared columnar-sink core (parquet/orc): within-file sort for
        min/max pruning, file-size bound, hive partitioning."""
        if sort_by:
            keys = ([*partition_cols] if partition_cols else []) + list(sort_by)
            df = df.sortWithinPartitions(*keys)
        w = df.write.mode(mode)
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", int(max_records_per_file))
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        getattr(w, fmt)(path)

    def to_orc(
        self,
        path: str,
        partition_cols: Optional[Sequence[str]] = None,
        mode: str = "overwrite",
        sort_by: Optional[Sequence[str]] = None,
        max_records_per_file: Optional[int] = None,
    ) -> None:
        """Distributed ORC export — the Hive-warehouse sibling of
        :meth:`to_parquet` (same partitioned layout, same within-file
        ``sort_by`` clustering so ORC stripe min/max prunes downstream
        scans, same ``max_records_per_file`` split-evenness bound; no
        zorder_by — Morton layout targets parquet's row-group stats
        pipeline, add it there first if ORC ever needs it)."""
        self._write_columnar(
            self._df, path, "orc", partition_cols, mode, sort_by,
            max_records_per_file,
        )

    def to_avro(self, path: str, mode: str = "overwrite") -> None:
        """Avro export via the external ``spark-avro`` module (import-gated
        like :func:`read_avro` — a clear error names the missing jar)."""
        try:
            self._df.write.mode(mode).format("avro").save(path)
        except Exception as exc:  # noqa: BLE001
            if "avro" in str(exc).lower() and "find" in str(exc).lower():
                raise ImportError(
                    "to_avro requires the spark-avro module on the Spark "
                    "classpath (--packages org.apache.spark:spark-avro_2.13:<ver>)"
                ) from exc
            raise

    def to_text_dir(self, path: str, column: str = "text", mode: str = "overwrite") -> None:
        """Distributed plain-text export: one line per row from a single
        string column (every executor writes its partitions). The inverse
        of ``read_text(lines=True)`` — and the format cannot represent
        NULLs or embedded newlines (a NULL would silently become an empty
        line; an embedded newline would read back as two rows), so such
        values FAIL the job via an in-expression guard; filter or escape
        them first (or use to_csv_dir, which quotes)."""
        val = F.col(column).cast("string")
        guarded = (
            F.when(
                val.isNull() | val.contains("\n") | val.contains("\r"),
                F.raise_error(
                    F.lit(
                        f"to_text_dir: NULL or embedded newline in {column!r} "
                        "— not representable as one line per row"
                    )
                ),
            )
            .otherwise(val)
            .alias("value")
        )
        self._df.select(guarded).write.mode(mode).text(path)

    def to_csv(
        self,
        path: str,
        delimiter: str = ",",
        fs_kwargs: Optional[dict] = None,
        **kwargs: Any,
    ) -> None:
        """Single-FILE CSV export matching the reference exactly
        (datachain.py:2315-2361): header row + csv.writer semantics,
        fsspec remote paths supported. Rows stream through
        toLocalIterator — driver memory stays O(1 row); the write is
        single-stream by nature (so is the reference's). For a distributed
        multi-file export at scale use :meth:`to_csv_dir`."""
        import csv

        if "://" in path and not path.startswith("file://"):
            try:
                import fsspec  # type: ignore[import-not-found]
            except ImportError:
                raise ImportError(
                    f"writing to {path!r} requires the 'fsspec' package"
                ) from None
            opener = fsspec.open(path, "w", newline="", **(fs_kwargs or {})).open()
        else:
            opener = open(path.removeprefix("file://"), "w", newline="")
        with opener as f:
            writer = csv.writer(f, delimiter=delimiter, **kwargs)
            writer.writerow(self._df.columns)
            for row in self._df.toLocalIterator(prefetchPartitions=True):
                writer.writerow(row)

    def to_csv_dir(
        self, path: str, delimiter: str = ",", mode: str = "overwrite"
    ) -> None:
        """Distributed CSV directory via Spark's native writer — the 100-TB
        path (every executor writes its partitions; no single stream). No
        reference counterpart (its to_csv is single-file)."""
        self._df.write.mode(mode).option("header", True).option("sep", delimiter).csv(path)

    def to_json(
        self,
        path: str,
        fs_kwargs: Optional[dict] = None,
        include_outer_list: bool = True,
        mode: str = "wb",
    ) -> None:
        """Single-FILE JSON export, matching the reference exactly: one valid
        JSON array (``[\\n row,\\n ... \\n]\\n``), or JSON-lines when
        ``include_outer_list=False`` (datachain.py:2362-2438, including its
        ``mode``/``fs_kwargs`` signature). Remote URIs (s3://, gs://, ...)
        are routed through fsspec when installed; plain paths use the local
        filesystem either way. Rows are serialized executor-side
        (df.toJSON) and STREAMED to the file via toLocalIterator — driver
        memory stays O(1 row), but the write itself is single-stream by
        nature (so is the reference's). For a distributed multi-file JSONL
        export at scale use :meth:`to_json_dir`."""
        if "b" not in mode:
            mode += "b"  # rows are serialized to bytes
        if "://" in path and not path.startswith("file://"):
            try:
                import fsspec  # type: ignore[import-not-found]
            except ImportError:
                raise ImportError(
                    f"writing to {path!r} requires the 'fsspec' package"
                ) from None
            opener = fsspec.open(path, mode, **(fs_kwargs or {})).open()
        else:
            opener = open(path.removeprefix("file://"), mode)
        first = True
        with opener as f:
            if include_outer_list:
                f.write(b"[\n")
            for row_json in self._df.toJSON().toLocalIterator(prefetchPartitions=True):
                if not first:
                    f.write(b",\n" if include_outer_list else b"\n")
                first = False
                f.write(row_json.encode("utf-8"))
            if include_outer_list:
                f.write(b"\n]\n")
            else:
                f.write(b"\n")

    def to_jsonl(
        self, path: str, fs_kwargs: Optional[dict] = None, mode: str = "wb"
    ) -> None:
        """Single-file JSON-lines export. Parity: datachain.py:2423-2438."""
        self.to_json(path, fs_kwargs=fs_kwargs, include_outer_list=False, mode=mode)

    def to_json_dir(self, path: str, mode: str = "overwrite") -> None:
        """Distributed JSONL directory via Spark's native writer — the
        100-TB path (every executor writes its partitions; no single
        stream). No reference counterpart (its to_json is single-file)."""
        self._df.write.mode(mode).json(path)

    def to_database(
        self, table: str, url: str, mode: str = "append", **options: str
    ) -> None:
        """Parity: /root/reference/src/datachain/lib/dc/database.py:70-297 —
        batch insert. ``jdbc:`` URLs use Spark's parallel JDBC writer (the
        at-scale path: each executor inserts its partitions). ``sqlite:`` /
        ``duckdb:`` URLs take a driver-side DB-API path (control-plane sized
        data; no JDBC jar needed in this container)."""
        if url.startswith("jdbc:"):
            self._df.write.mode(mode).options(**options).jdbc(url=url, table=table)
            return
        pdf = self._df.toPandas()
        if url.startswith("sqlite"):
            import sqlite3

            path = url.split("///", 1)[1] if "///" in url else ":memory:"
            with sqlite3.connect(path or ":memory:") as conn:
                if mode == "overwrite":
                    conn.execute(f'DROP TABLE IF EXISTS "{table}"')
                cols = ", ".join(f'"{c}"' for c in pdf.columns)
                qs = ", ".join("?" for _ in pdf.columns)
                conn.execute(
                    f'CREATE TABLE IF NOT EXISTS "{table}" '
                    f'({", ".join(chr(34) + c + chr(34) for c in pdf.columns)})'
                )
                conn.executemany(
                    f'INSERT INTO "{table}" ({cols}) VALUES ({qs})',
                    [tuple(r) for r in pdf.itertuples(index=False)],
                )
                conn.commit()
        elif url.startswith("duckdb"):
            import duckdb

            path = url.split("///", 1)[1] if "///" in url else ":memory:"
            conn = duckdb.connect(path or ":memory:")
            try:
                conn.register("_dc_out", pdf)
                if mode == "overwrite":
                    conn.execute(f'DROP TABLE IF EXISTS "{table}"')
                    conn.execute(f'CREATE TABLE "{table}" AS SELECT * FROM _dc_out')
                else:
                    conn.execute(
                        f'CREATE TABLE IF NOT EXISTS "{table}" AS '
                        "SELECT * FROM _dc_out WHERE 1=0"
                    )
                    conn.execute(f'INSERT INTO "{table}" SELECT * FROM _dc_out')
            finally:
                conn.close()
        else:
            raise ValueError(f"unsupported database url {url!r}")

    def to_pandas(self):
        """Parity: datachain.py:1966."""
        return self._df.toPandas()

    def to_records(self) -> list[dict[str, Any]]:
        """Parity: datachain.py:1477."""
        return [r.asDict(recursive=True) for r in self._df.collect()]

    def to_list(self, *cols: str) -> list[tuple]:
        """Parity: datachain.py:2901."""
        df = self._df.select(*cols) if cols else self._df
        return [tuple(r) for r in df.collect()]

    def to_values(self, col: str) -> list[Any]:
        """Parity: datachain.py:2932."""
        return [r[0] for r in self._df.select(col).collect()]

    def to_iter(self, *cols: str) -> Iterator[tuple]:
        """Streaming client iteration. Parity: datachain.py:1485-1530 —
        toLocalIterator avoids materializing the whole result on the
        driver. Columns backed by a signal model (attached via
        with_signal_model / read_values with Pydantic values / read_dataset
        of a saved signal schema) come back as Pydantic instances, matching
        the reference's collect semantics (signal_schema.py:506-530)."""
        from .schema import row_to_model

        names = list(cols) if cols else list(self._df.columns)
        df = self._df.select(*names) if cols else self._df
        models = {i: self._signal_models[n] for i, n in enumerate(names)
                  if n in self._signal_models}
        for r in df.toLocalIterator(prefetchPartitions=True):
            t = tuple(r)
            if models:
                t = tuple(
                    row_to_model(v, models[i]) if i in models and v is not None else v
                    for i, v in enumerate(t)
                )
            yield t

    def with_signal_model(self, col: str, model: type) -> "DataChain":
        """Declare that struct column ``col`` is backed by Pydantic ``model``.
        The model definition is persisted by save() (signal_schema.py:255-320
        parity) and the column materializes as model instances in
        to_iter/collect."""
        from .schema import ModelStore

        ModelStore.register(model)
        out = self._evolve(self._df)
        out._signal_models = {**self._signal_models, col: model}
        return out

    @property
    def signal_models(self) -> dict[str, type]:
        """Columns backed by Pydantic models (read-only view)."""
        return dict(self._signal_models)

    def results(self, row_factory: Optional[Callable] = None) -> list:
        """All rows as tuples (or via ``row_factory(colnames, row)``).
        Parity: datachain.py:1452-1475."""
        rows = [tuple(r) for r in self._df.collect()]
        if row_factory is None:
            return rows
        cols = list(self._df.columns)
        return [row_factory(cols, r) for r in rows]

    def collect(self, *cols: str) -> Iterator:
        """Deprecated alias of to_iter (single column yields bare values).
        Parity: datachain.py:1531-1553."""
        import warnings

        warnings.warn(
            "Method `collect` is deprecated. Use `to_iter` method instead.",
            DeprecationWarning,
            stacklevel=2,
        )
        if len(cols) == 1:
            for item in self.to_iter(*cols):
                yield item[0]
        else:
            yield from self.to_iter(*cols)

    def to_columnar_data_with_names(
        self, chunk_size: int = 100_000
    ) -> tuple[list[str], Iterator[list[list[Any]]]]:
        """(column names, iterator of column-major chunks) — the shape
        columnar writers want. Streams via to_iter, never materializing more
        than ``chunk_size`` rows. Parity: datachain.py:1428-1450."""
        names = list(self._df.columns)

        def column_chunks() -> Iterator[list[list[Any]]]:
            batch: list[tuple] = []
            for row in self.to_iter():
                batch.append(row)
                if len(batch) >= chunk_size:
                    yield [list(col) for col in zip(*batch)]
                    batch = []
            if batch:
                yield [list(col) for col in zip(*batch)]

        return names, column_chunks()

    def __or__(self, other: "DataChain") -> "DataChain":
        """``a | b`` is ``a.union(b)``. Parity: datachain.py:314-317."""
        return self.union(other)

    def __iter__(self) -> Iterator[tuple]:
        return self.to_iter()

    def show(self, limit: int = 20, truncate: bool = True) -> None:
        """Parity: datachain.py:2002-2063."""
        self._df.show(limit, truncate=truncate)

    def to_storage(
        self,
        output: str,
        signal: str = "file",
        placement: str = "fullpath",
    ) -> None:
        """Download/copy files referenced by a File signal to a target dir.
        Parity: datachain.py:2681-2749 (FileExporter) — here a distributed
        foreachPartition copy, not a driver thread pool."""
        from .sources.files import export_files

        export_files(self._df, output, signal=signal, placement=placement)

    def to_webdataset(
        self,
        output: str,
        key_col: str,
        columns: "dict[str, str]",
        num_shards: int = 16,
        shard_prefix: str = "shard-",
    ) -> "list[dict]":
        """Shard the chain out as WebDataset tars (spec addition — the
        reference only READS wds; prepared training corpora also need to be
        sharded back out). One range shuffle, one tar per partition,
        written executor-side; returns the materialized shard manifest.
        See datachain_spark.webdataset.to_webdataset."""
        from .webdataset import to_webdataset as _tw

        manifest = _tw(
            self._df, output, key_col, columns,
            num_shards=num_shards, shard_prefix=shard_prefix,
        )
        return [r.asDict() for r in manifest.collect()]

    def parse_tabular(self, format: str = "parquet", source: bool = True, **options) -> "DataChain":  # noqa: A002
        """Parse File rows into data rows via the native Spark reader.
        Parity: datachain.py:2079-2183."""
        from .sources.tabular import parse_tabular as _pt

        return _pt(self, format=format, source=source, **options)

    def with_file_content(
        self, signal: str = "file", content_col: str = "content"
    ) -> "DataChain":
        """Attach each File row's bytes as a ``binary`` column, read
        JVM-side by Spark's binaryFile source — executors stream content
        through the same Hadoop connector stack as every other scan, so
        any scheme the cluster reads (s3a://, gs://, file://) works with
        zero Python I/O. This is the Spark-first alternative to per-row
        ``File.read_bytes()`` inside a UDF (which needs a Python-side
        filesystem client and pays per-call latency).

        One binaryFile scan per distinct listing source (roots are
        collected — there are at most a handful), joined back on the
        relative path. The scan enumerates the whole root; rows not in
        this chain are dropped by the join, so use it on full listings
        (the common "attach then filter by content" pattern) rather than
        tiny subsets of huge buckets."""
        spark = self._df.sparkSession
        roots = [
            r["s"]
            for r in self._df.select(
                F.col(f"{signal}.source").alias("s")
            ).distinct().collect()
        ]
        parts = []
        for root in roots:
            scan_root = root[7:] if root.startswith("file://") else root
            b = spark.read.format("binaryFile").option(
                "recursiveFileLookup", "true"
            ).load(scan_root)
            prefix = "file:" + scan_root if root.startswith("file://") else root
            rel = F.when(
                F.col("path").startswith(prefix + "/"),
                F.expr(f"substring(path, {len(prefix) + 2})"),
            ).otherwise(F.col("path"))
            parts.append(
                b.select(
                    F.lit(root).alias("__src"),
                    rel.alias("__rel"),
                    F.col("content").alias(content_col),
                )
            )
        if not parts:
            return self._evolve(
                self._df.withColumn(content_col, F.lit(None).cast("binary"))
            )
        content = parts[0]
        for p in parts[1:]:
            content = content.unionByName(p)
        joined = self._df.join(
            content,
            (F.col(f"{signal}.source") == F.col("__src"))
            & (F.col(f"{signal}.path") == F.col("__rel")),
            "left",
        ).drop("__src", "__rel")
        return self._evolve(joined)

    def to_pytorch(self, **kwargs):
        """IterableDataset over the chain. Parity: datachain.py:1554-1600."""
        from .sources.pytorch_ds import chain_to_pytorch

        return chain_to_pytorch(self, **kwargs)

    # -- deprecated classmethod constructors (reference keeps them with a
    # deprecation warning, datachain.py:1934-2000; same here for drop-in
    # ports) -------------------------------------------------------------
    @classmethod
    def _deprecated_ctor(cls, modern: str, fn, *args, **kwargs) -> "DataChain":
        import warnings

        warnings.warn(
            f"Class method `from_{modern}` is deprecated; use "
            f"`read_{modern}` instead",
            DeprecationWarning,
            stacklevel=3,
        )
        return fn(*args, **kwargs)

    @classmethod
    def from_values(cls, *args, **kwargs) -> "DataChain":
        from .sources.readers import read_values

        return cls._deprecated_ctor("values", read_values, *args, **kwargs)

    @classmethod
    def from_records(cls, *args, **kwargs) -> "DataChain":
        from .sources.readers import read_records

        return cls._deprecated_ctor("records", read_records, *args, **kwargs)

    @classmethod
    def from_pandas(cls, *args, **kwargs) -> "DataChain":
        from .sources.readers import read_pandas

        return cls._deprecated_ctor("pandas", read_pandas, *args, **kwargs)

    @classmethod
    def from_parquet(cls, *args, **kwargs) -> "DataChain":
        from .sources.readers import read_parquet

        return cls._deprecated_ctor("parquet", read_parquet, *args, **kwargs)

    @classmethod
    def from_csv(cls, *args, **kwargs) -> "DataChain":
        from .sources.readers import read_csv

        return cls._deprecated_ctor("csv", read_csv, *args, **kwargs)

    @classmethod
    def from_json(cls, *args, **kwargs) -> "DataChain":
        from .sources.readers import read_json

        return cls._deprecated_ctor("json", read_json, *args, **kwargs)

    @classmethod
    def from_dataset(cls, *args, **kwargs) -> "DataChain":
        from .sources.readers import read_dataset

        return cls._deprecated_ctor("dataset", read_dataset, *args, **kwargs)

    @classmethod
    def from_hf(cls, *args, **kwargs) -> "DataChain":
        from .sources.readers import read_hf

        return cls._deprecated_ctor("hf", read_hf, *args, **kwargs)

    @classmethod
    def from_storage(cls, *args, **kwargs) -> "DataChain":
        from .sources.storage import read_storage

        return cls._deprecated_ctor("storage", read_storage, *args, **kwargs)

    @classmethod
    def datasets(cls, *args, **kwargs) -> "DataChain":
        """Deprecated classmethod form of datachain_spark.datasets()."""
        from .sources.readers import datasets as _datasets

        return _datasets(*args, **kwargs)

    @classmethod
    def listings(cls, *args, **kwargs) -> "DataChain":
        """Deprecated classmethod form of datachain_spark.listings()."""
        from .sources.readers import listings as _listings

        return _listings(*args, **kwargs)
