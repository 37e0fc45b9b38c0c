"""Versioned dataset metastore on plain storage.

Parity with the reference's dataset/version/lineage layer:
- DatasetRecord/DatasetVersion (/root/reference/src/datachain/dataset.py:187,361)
- semver auto-bump (/root/reference/src/datachain/dataset.py:625-657)
- version specifiers ``>=1.2`` (/root/reference/src/datachain/dataset.py:677)
- dependency lineage recorded on save
  (/root/reference/src/datachain/query/dataset.py:1882-1916)
- namespace/project two-level grouping
  (/root/reference/src/datachain/data_storage/metastore.py:497-503)

Layout (works on any Hadoop-visible FS; locally a directory):

    {root}/{namespace}/{project}/{name}/manifest.json
    {root}/{namespace}/{project}/{name}/v{semver}/data/*.parquet

Each version is an immutable parquet directory — the Delta/Iceberg
"time-travel" substrate reduced to what the engine needs (the reference also
keeps one physical table per version, warehouse.py:353-371). At 100 TB the
data writes are distributed (plain ``df.write.parquet``); only the tiny
manifest JSON is driver-side.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Mapping, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..error import (
    DatasetNotFoundError,
    DatasetVersionNotFoundError,
    InvalidDatasetNameError,
    NamespaceNotFoundError,
)

DEFAULT_NAMESPACE = "local"
DEFAULT_PROJECT = "default"

_VERSION_RE = re.compile(r"^(\d+)\.(\d+)\.(\d+)$")
_SPEC_RE = re.compile(r"^(>=|<=|==|>|<|~=)?\s*(\d+)(?:\.(\d+))?(?:\.(\d+))?$")


def parse_version(v: str) -> tuple[int, int, int]:
    m = _VERSION_RE.match(v)
    if not m:
        raise ValueError(f"invalid semver: {v!r}")
    return tuple(int(g) for g in m.groups())  # type: ignore[return-value]


def bump_version(v: str, part: str = "patch") -> str:
    major, minor, patch = parse_version(v)
    if part == "major":
        return f"{major + 1}.0.0"
    if part == "minor":
        return f"{major}.{minor + 1}.0"
    if part == "patch":
        return f"{major}.{minor}.{patch + 1}"
    raise ValueError(f"unknown version part: {part!r}")


def matches_spec(version: str, spec: str) -> bool:
    """Version specifier match (reference: dataset.py:677
    latest_compatible_version)."""
    m = _SPEC_RE.match(spec.strip())
    if not m:
        raise ValueError(f"invalid version specifier: {spec!r}")
    op = m.group(1) or "=="
    want = tuple(int(g) if g is not None else None for g in m.groups()[1:])
    have = parse_version(version)

    def cmp_key(w):
        return tuple(x if x is not None else 0 for x in w)

    if op == "==":
        return all(w is None or h == w for h, w in zip(have, want))
    if op == ">=":
        return have >= cmp_key(want)
    if op == ">":
        return have > cmp_key(want)
    if op == "<=":
        wk = tuple(x if x is not None else 10**9 for x in want)
        return have <= wk
    if op == "<":
        return have < cmp_key(want)
    if op == "~=":  # compatible release: same major, >= given
        return have[0] == want[0] and have >= cmp_key(want)
    raise ValueError(op)


@dataclass
class DatasetVersion:
    version: str
    uuid: str
    created_at: float
    num_rows: int = 0
    schema_json: str = ""
    attrs: dict[str, Any] = field(default_factory=dict)
    dependencies: list[dict[str, str]] = field(default_factory=list)
    preview: list[dict[str, Any]] = field(default_factory=list)
    job_hash: str = ""
    # bucketed layout: {"table": catalog name, "by": [cols], "num": N,
    # "sort": [cols]} — empty dict for plain parquet versions
    bucket: dict = field(default_factory=dict)
    # serialized Pydantic model definitions for model-backed columns
    # ({signal: type-string, "_custom_types": {...}} — schema.py
    # serialize_signals; parity signal_schema.py:255-320). Lets a fresh
    # session reconstruct custom model classes on read_dataset.
    signal_schema: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        return self.__dict__.copy()

    @classmethod
    def from_dict(cls, d: dict) -> "DatasetVersion":
        return cls(**{k: d.get(k) for k in cls.__dataclass_fields__ if k in d})


@dataclass
class DatasetRecord:
    name: str
    namespace: str = DEFAULT_NAMESPACE
    project: str = DEFAULT_PROJECT
    description: str = ""
    versions: list[DatasetVersion] = field(default_factory=list)

    @property
    def full_name(self) -> str:
        return f"{self.namespace}.{self.project}.{self.name}"

    def latest_version(self) -> Optional[DatasetVersion]:
        if not self.versions:
            return None
        return max(self.versions, key=lambda v: parse_version(v.version))

    def get_version(self, version: Optional[str]) -> DatasetVersion:
        if version is None:
            latest = self.latest_version()
            if latest is None:
                raise DatasetVersionNotFoundError(f"dataset {self.name} has no versions")
            return latest
        if _VERSION_RE.match(version):
            for v in self.versions:
                if v.version == version:
                    return v
            raise DatasetVersionNotFoundError(f"dataset {self.name} has no version {version}")
        # specifier: pick the newest matching
        matching = [v for v in self.versions if matches_spec(v.version, version)]
        if not matching:
            raise DatasetVersionNotFoundError(f"no version of {self.name} matches {version!r}")
        return max(matching, key=lambda v: parse_version(v.version))


def _nested_col(df: DataFrame, name: str):
    """Column for a possibly-dotted key against ``df``: a literal column
    name wins (backtick-quoted so its dots stay literal), otherwise the
    dotted path traverses struct fields — the same resolution order the
    delta flat-key convention uses."""
    if name in df.columns:
        return F.col("`" + name.replace("`", "``") + "`")
    return F.col(name)


def _key_schema(schema, keys: Sequence[str]):
    """Schema of the flat tombstone key columns (dots replaced by ``__``)
    of ``keys``, typed from a version's recorded schema and resolved the
    way :func:`_nested_col` resolves them: a literal column name first,
    otherwise a struct-field path. Reading tombstones with it spares the
    per-directory schema-inference job."""
    from pyspark.sql import types as T

    fields = []
    for k in keys:
        if k in schema.fieldNames():
            dt = schema[k].dataType
        else:
            dt = schema
            for part in k.split("."):
                dt = dt[part].dataType
        fields.append(T.StructField(k.replace(".", "__"), dt))
    return T.StructType(fields)


def split_name(name: str) -> tuple[str, str, str]:
    """'ns.proj.name' | 'proj.name' | 'name' -> (ns, proj, name)."""
    parts = name.split(".")
    if len(parts) == 1:
        return DEFAULT_NAMESPACE, DEFAULT_PROJECT, parts[0]
    if len(parts) == 2:
        return DEFAULT_NAMESPACE, parts[0], parts[1]
    if len(parts) == 3:
        return parts[0], parts[1], parts[2]
    raise InvalidDatasetNameError(f"invalid dataset name: {name!r}")


class Metastore:
    """JSON-manifest metastore over a directory tree."""

    #: codecs Spark's parquet writer accepts for the per-save override
    _PARQUET_CODECS = frozenset(
        {"zstd", "snappy", "gzip", "lz4", "lz4raw", "lz4_raw", "brotli",
         "uncompressed", "none"}
    )

    @property
    def PARQUET_CODEC(self) -> str:
        """Parquet codec for stored dataset versions (guide §6: zstd is
        smaller than snappy at similar read speed — measured −33 % bytes
        on the documents table with equal wall). Resolved from
        $DATACHAIN_SPARK_PARQUET_CODEC PER SAVE (not at import), and
        validated here so a typo fails at the save call, not deep inside
        the first write. Affects only data written by the metastore;
        readers are codec-agnostic."""
        codec = os.environ.get("DATACHAIN_SPARK_PARQUET_CODEC", "zstd").lower()
        if codec not in self._PARQUET_CODECS:
            raise ValueError(
                f"DATACHAIN_SPARK_PARQUET_CODEC={codec!r} is not a parquet "
                f"codec Spark supports ({sorted(self._PARQUET_CODECS)})"
            )
        return codec

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths -----------------------------------------------------------
    def _ds_dir(self, ns: str, proj: str, name: str) -> str:
        return os.path.join(self.root, ns, proj, name)

    def _manifest_path(self, ns: str, proj: str, name: str) -> str:
        return os.path.join(self._ds_dir(ns, proj, name), "manifest.json")

    def version_data_path(self, name: str, version: str) -> str:
        ns, proj, base = split_name(name)
        return os.path.join(self._ds_dir(ns, proj, base), f"v{version}", "data")

    # -- manifest IO -------------------------------------------------------
    def _read_record(self, ns: str, proj: str, name: str) -> Optional[DatasetRecord]:
        path = self._manifest_path(ns, proj, name)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            d = json.load(f)
        rec = DatasetRecord(
            name=d["name"], namespace=d["namespace"], project=d["project"],
            description=d.get("description", ""),
        )
        rec.versions = [DatasetVersion.from_dict(v) for v in d.get("versions", [])]
        return rec

    def _write_record(self, rec: DatasetRecord) -> None:
        path = self._manifest_path(rec.namespace, rec.project, rec.name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "name": rec.name,
                    "namespace": rec.namespace,
                    "project": rec.project,
                    "description": rec.description,
                    "versions": [v.to_dict() for v in rec.versions],
                },
                f,
                indent=1,
                default=str,
            )
        os.replace(tmp, path)

    # -- public API --------------------------------------------------------
    def get_record(self, name: str) -> Optional[DatasetRecord]:
        ns, proj, base = split_name(name)
        return self._read_record(ns, proj, base)

    def save_dataset(
        self,
        df: DataFrame,
        name: str,
        version: Optional[str] = None,
        update_version: str = "patch",
        attrs: Optional[dict[str, Any]] = None,
        description: str = "",
        dependencies: Optional[list[dict[str, str]]] = None,
        preview_rows: int = 20,
        job_hash: str = "",
        bucket_by: Optional[list[str]] = None,
        num_buckets: int = 16,
        bucket_sort: Optional[list[str]] = None,
        signal_schema: Optional[dict] = None,
        schema_policy: str = "any",
    ) -> DatasetVersion:
        """Materialize df as a new dataset version.

        Parity: DataChain.save -> DatasetQuery.save -> catalog.create_dataset
        (/root/reference/src/datachain/lib/dc/datachain.py:602-673,
        /root/reference/src/datachain/catalog/catalog.py:780-961): records
        schema, row count, preview (first ``preview_rows`` rows), lineage.

        ``schema_policy`` gates the write against the dataset's LATEST
        version (a pipeline guard for scheduled re-saves — beyond the
        reference): ``"any"`` (default) records whatever arrives;
        ``"additive"`` requires every existing column to keep its name
        and type (new columns allowed); ``"strict"`` requires the exact
        same (name, type) list. Violations raise BEFORE any data is
        written.
        """
        ns, proj, base = split_name(name)
        rec = self._read_record(ns, proj, base) or DatasetRecord(
            name=base, namespace=ns, project=proj, description=description
        )
        self._check_schema_policy(df, rec, schema_policy, name)
        if version is None:
            latest = rec.latest_version()
            version = bump_version(latest.version, update_version) if latest else "1.0.0"
        else:
            parse_version(version)
            if any(v.version == version for v in rec.versions):
                raise ValueError(f"dataset {name} version {version} already exists")

        data_path = self.version_data_path(f"{ns}.{proj}.{base}", version)
        # Row count rides the write job itself (CollectMetrics): one
        # Spark job fewer per save than a post-write footer count, and at
        # scale no footer-listing pass over the written files at all.
        obs = Observation()
        counted = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        bucket_meta: dict = {}
        if bucket_by:
            # Bucketed layout: hash-partitioned files + session-catalog table
            # so equi-joins/aggs on the bucket key skip their Exchange — the
            # co-located-join strategy SCALE.md calls for. The files are plain
            # parquet; the bucket spec also lives in OUR metastore, and
            # load_dataset re-registers the catalog table when a fresh session
            # doesn't have it (external location, CLUSTERED BY declaration).
            tbl = self._bucket_table_name(ns, proj, base, version)
            w = (
                counted.write.mode("overwrite")
                .option("compression", self.PARQUET_CODEC)
                .option("path", data_path)
                .bucketBy(num_buckets, *bucket_by)
            )
            if bucket_sort:
                w = w.sortBy(*bucket_sort)
            w.saveAsTable(tbl)
            bucket_meta = {
                "table": tbl,
                "by": list(bucket_by),
                "num": int(num_buckets),
                "sort": list(bucket_sort or []),
            }
        else:
            counted.write.mode("overwrite").option(
                "compression", self.PARQUET_CODEC
            ).parquet(data_path)

        num_rows = int(obs.get["rows"])
        spark = df.sparkSession
        saved = spark.read.schema(df.schema).parquet(data_path)
        preview = [r.asDict(recursive=True) for r in saved.limit(preview_rows).collect()]

        dv = DatasetVersion(
            version=version,
            uuid=uuid.uuid4().hex,
            created_at=time.time(),
            num_rows=num_rows,
            schema_json=df.schema.json(),
            attrs=attrs or {},
            dependencies=dependencies or [],
            preview=json.loads(json.dumps(preview, default=str)),
            job_hash=job_hash,
            bucket=bucket_meta,
            signal_schema=signal_schema or {},
        )
        rec.versions.append(dv)
        if description:
            rec.description = description
        self._write_record(rec)
        return dv

    def version_tombstone_path(self, name: str, version: str) -> str:
        ns, proj, base = split_name(name)
        return os.path.join(
            self._ds_dir(ns, proj, base), f"v{version}", "tombstones"
        )

    def extend_dataset_version(
        self,
        spark: SparkSession,
        df_new: DataFrame,
        name: str,
        base: DatasetVersion,
        tombstone_keys: Optional[DataFrame] = None,
        tombstone_on: Sequence[str] = (),
        attrs: Optional[dict[str, Any]] = None,
        dependencies: Optional[list[dict[str, str]]] = None,
        job_hash: str = "",
        preview_rows: int = 20,
    ) -> tuple[DatasetVersion, int]:
        """Record a new version whose rows are ``base``'s rows MINUS the
        keys in ``tombstone_keys`` (if any) plus ``df_new`` — WITHOUT
        rewriting the base (the delta by-reference write): only the churn
        rows are written, and the manifest's ``extends_version`` attr
        makes readers union the base version's files in. At 100 TB this
        turns an incremental save from a full corpus rewrite into an
        O(churn) write; fragmentation accounting spans the whole chain, so
        ``compact_dataset`` (or ``delta_save(compact_target_bytes=)``)
        heals long chains into a self-contained copy.

        ``tombstone_keys`` carries one flattened column per entry of
        ``tombstone_on`` (dots replaced by ``__`` — the delta flat-key
        convention). It is written as a churn-sized key set beside the
        churn rows and named in the ``tombstone_on`` attr; readers keep a
        row visible unless a LATER chain link tombstones its key
        (null-safe, matching DataChain.subtract on the rewrite path).
        The displaced-row count then costs one key-column scan of the
        base. Without tombstones nothing is displaced: no tombstone dir,
        no count, and the base's preview stays the head's.

        Callers own the soundness contract (delta_save proves it from its
        diff): every df_new key is tombstoned or absent from the base, and
        df_new's schema matches the base's column-for-column. Base must be
        the record's latest version and not bucketed.

        Returns the new version and the number of base rows it displaced."""
        from pyspark.sql import types as T

        ns, proj, base_name = split_name(name)
        rec = self._read_record(ns, proj, base_name)
        if rec is None:
            raise DatasetNotFoundError(f"dataset not found: {name}")
        head = rec.latest_version()
        if head is None or head.version != base.version:
            raise ValueError(
                f"extend_dataset_version: base {base.version} is not the "
                f"latest version of {name}"
            )
        if base.bucket:
            raise ValueError(
                "extend_dataset_version: bucketed versions have a global "
                "layout — use a full save"
            )
        version = bump_version(base.version, "patch")
        full = f"{ns}.{proj}.{base_name}"
        data_path = self.version_data_path(full, version)
        st = T.StructType.fromJson(json.loads(base.schema_json))
        # churn count rides the write job (CollectMetrics) — no
        # post-write footer count job
        obs = Observation()
        df_new.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).option("compression", self.PARQUET_CODEC).parquet(data_path)
        dv = DatasetVersion(
            version=version,
            uuid=uuid.uuid4().hex,
            created_at=time.time(),
            num_rows=base.num_rows + int(obs.get["rows"]),
            schema_json=base.schema_json,
            attrs={**(attrs or {}), "extends_version": base.version},
            dependencies=dependencies or [],
            job_hash=job_hash,
            signal_schema=json.loads(json.dumps(base.signal_schema))
            if base.signal_schema else {},
        )
        n_displaced = 0
        if tombstone_keys is None:
            # the base's preview stays valid: chain reads are base-first,
            # so these are still the head's first rows — re-collecting
            # would re-open the base data this write exists to avoid. A
            # base SHORTER than the preview window tops up from the churn
            # dir only (still O(churn)).
            preview = list(base.preview)
            if len(preview) < preview_rows and base.num_rows < preview_rows:
                preview += [
                    r.asDict(recursive=True)
                    for r in spark.read.schema(st).parquet(data_path)
                    .limit(preview_rows - len(preview)).collect()
                ]
        else:
            tomb_path = self.version_tombstone_path(full, version)
            tomb_st = _key_schema(st, tombstone_on)
            tombstone_keys.select(
                *[F.col(f.name).cast(f.dataType) for f in tomb_st.fields]
            ).dropDuplicates().write.mode("overwrite").option(
                "compression", self.PARQUET_CODEC
            ).parquet(tomb_path)
            # displaced-row count: base-VISIBLE rows whose key is
            # tombstoned — a key-column-only scan of the chain against the
            # broadcast churn keys (process() may emit any number of rows
            # per key, so the source-side churn counts cannot stand in)
            base_df, _, _ = self.load_dataset(spark, name, base.version)
            tomb_df = spark.read.schema(tomb_st).parquet(tomb_path).select(
                *[F.col(f).alias(f"__dcs_tk{j}")
                  for j, f in enumerate(tomb_st.fieldNames())]
            )
            cond = None
            for j, k in enumerate(tombstone_on):
                c = _nested_col(base_df, k).eqNullSafe(F.col(f"__dcs_tk{j}"))
                cond = c if cond is None else cond & c
            n_displaced = base_df.join(
                F.broadcast(tomb_df), cond, "left_semi"
            ).count()
            dv.num_rows -= n_displaced
            dv.attrs["tombstone_on"] = json.dumps(list(tombstone_on))
            # the base's preview may show rows this version tombstones —
            # collect from the assembled head (limit-bounded, churn-sized
            # broadcast; nothing near a corpus scan)
            preview = [
                r.asDict(recursive=True)
                for r in self._load_chain(spark, full, rec, dv)
                .limit(preview_rows).collect()
            ]
        dv.preview = json.loads(json.dumps(preview, default=str))
        rec.versions.append(dv)
        self._write_record(rec)
        return dv, n_displaced

    @staticmethod
    def _check_schema_policy(
        df: DataFrame, rec: DatasetRecord, policy: str, name: str
    ) -> None:
        if policy not in ("any", "additive", "strict"):
            raise ValueError(
                f"schema_policy must be any|additive|strict, got {policy!r}"
            )
        latest = rec.latest_version()
        if policy == "any" or latest is None or not latest.schema_json:
            return
        from pyspark.sql import types as T

        prev = T.StructType.fromJson(json.loads(latest.schema_json))
        prev_cols = [(f.name, f.dataType.simpleString()) for f in prev.fields]
        new_cols = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        if policy == "strict" and new_cols != prev_cols:
            raise ValueError(
                f"schema_policy='strict': {name} v{latest.version} has "
                f"{prev_cols}, incoming frame has {new_cols}"
            )
        if policy == "additive":
            new_map = dict(new_cols)
            broken = [
                (c, t, new_map.get(c))
                for c, t in prev_cols
                if new_map.get(c) != t
            ]
            if broken:
                raise ValueError(
                    f"schema_policy='additive': {name} v{latest.version} "
                    "columns dropped or retyped: "
                    + ", ".join(
                        f"{c} was {t}, now {nt}" for c, t, nt in broken
                    )
                )

    @staticmethod
    def _extends_closure(rec: DatasetRecord, dv: DatasetVersion) -> set:
        """Version strings in ``dv``'s append chain, itself included."""
        out: set[str] = set()
        v: Optional[DatasetVersion] = dv
        while v is not None and v.version not in out:
            out.add(v.version)
            ext = v.attrs.get("extends_version")
            try:
                v = rec.get_version(ext) if ext else None
            except Exception:  # noqa: BLE001 — dangling reference
                v = None
        return out

    @staticmethod
    def _chain_versions(
        rec: DatasetRecord, dv: DatasetVersion
    ) -> list[DatasetVersion]:
        """``dv``'s append/extend chain, base-first. A dangling
        ``extends_version`` (base removed via force=True) raises an error
        naming the broken chain instead of a bare version-not-found."""
        chain: list[DatasetVersion] = []
        seen: set[str] = set()
        v: Optional[DatasetVersion] = dv
        while v is not None and v.version not in seen:
            seen.add(v.version)
            chain.append(v)
            ext = v.attrs.get("extends_version")
            if not ext:
                break
            try:
                v = rec.get_version(ext)
            except DatasetVersionNotFoundError:
                raise DatasetVersionNotFoundError(
                    f"dataset {rec.name} version {dv.version} extends "
                    f"version {ext}, which no longer exists (removed with "
                    "force=True?) — the chain is broken; restore the base "
                    "or delete the dangling head"
                ) from None
        return list(reversed(chain))

    def _chain_data_paths(
        self, rec: DatasetRecord, dv: DatasetVersion
    ) -> list[str]:
        """Data directories of a version, base-first: an append-fast-path
        version (``extends_version`` attr) holds only its churn files and
        references its base version's data by version string — the
        manifest-reuse layout that makes a pure-append ``delta_save``
        O(churn) instead of a full corpus rewrite. Base paths come first
        so the logical row order matches the rewrite the fast path
        replaced (kept rows, then appended rows)."""
        full = f"{rec.namespace}.{rec.project}.{rec.name}"
        return [
            self.version_data_path(full, c.version)
            for c in self._chain_versions(rec, dv)
        ]

    def load_dataset(
        self, spark: SparkSession, name: str, version: Optional[str] = None
    ) -> tuple[DataFrame, DatasetRecord, DatasetVersion]:
        ns, proj, base = split_name(name)
        rec = self._read_record(ns, proj, base)
        if rec is None:
            raise DatasetNotFoundError(f"dataset not found: {name}")
        dv = rec.get_version(version)
        data_path = self.version_data_path(f"{ns}.{proj}.{base}", dv.version)
        if dv.bucket:
            df = self._load_bucketed(spark, dv, data_path)
        elif dv.attrs.get("extends_version") and dv.schema_json:
            df = self._load_chain(spark, f"{ns}.{proj}.{base}", rec, dv)
        elif dv.schema_json:
            # apply the schema recorded at save time instead of
            # re-inferring it from footers: every load_dataset otherwise
            # launches one schema-inference job (r11 — a converged delta
            # re-run must stay at zero Spark jobs, and warehouse readers
            # open versions constantly)
            from pyspark.sql import types as T

            st = T.StructType.fromJson(json.loads(dv.schema_json))
            df = spark.read.schema(st).parquet(data_path)
        else:
            df = spark.read.parquet(data_path)
        return df, rec, dv

    def _load_chain(
        self, spark: SparkSession, full: str, rec: DatasetRecord,
        dv: DatasetVersion, file_col: Optional[str] = None,
    ) -> DataFrame:
        """Assemble an append/extend chain: the plain union read when no
        link tombstones anything; otherwise each link's rows are tagged
        with their chain ordinal and a row is visible unless a LATER link
        tombstones its key (null-safe, matching the subtract on the
        rewrite path the extend fast path replaces). The tombstone set is
        churn-sized and broadcast — the corpus never shuffles.

        ``file_col`` additionally materializes each row's source file
        path (``_metadata.file_path``, captured ON the scan — it does not
        survive the visibility join) as an extra output column, for
        file-level consumers like the zone-map build."""
        from functools import reduce

        from pyspark.sql import types as T

        st = T.StructType.fromJson(json.loads(dv.schema_json))
        links = self._chain_versions(rec, dv)
        paths = [self.version_data_path(full, v.version) for v in links]
        tombs = [
            (i, json.loads(v.attrs["tombstone_on"]))
            for i, v in enumerate(links)
            if v.attrs.get("tombstone_on")
        ]
        if not tombs and not file_col:
            return spark.read.schema(st).parquet(*paths)
        link_col = "__dcs_link"
        while link_col in st.fieldNames():
            link_col += "_"

        def _part(p: str, i: int) -> DataFrame:
            r = spark.read.schema(st).parquet(p)
            if file_col:
                r = r.withColumn(file_col, F.col("_metadata.file_path"))
            return r.withColumn(link_col, F.lit(i))

        rows = reduce(
            DataFrame.unionByName,
            [_part(p, i) for i, p in enumerate(paths)],
        )
        out_cols = [
            F.col("`" + f.name.replace("`", "``") + "`") for f in st.fields
        ]
        if file_col:
            out_cols.append(F.col(file_col))
        if not tombs:
            return rows.select(*out_cols)
        keys, tomb = self._chain_tombstones(spark, full, links, tombs)
        visible = self._visible_rows(rows, F.col(link_col), keys, tomb)
        return visible.select(*out_cols)

    def _chain_tombstones(
        self, spark: SparkSession, full: str,
        links: list[DatasetVersion], tombs: list[tuple[int, list[str]]],
    ) -> tuple[list[str], DataFrame]:
        """(key names, broadcastable frame [__dcs_tk*..., __dcs_tmax]) —
        each tombstoned key with the LAST chain ordinal that tombstoned
        it. The whole chain must share one key set (delta_on is fixed per
        dataset pipeline)."""
        from functools import reduce

        from pyspark.sql import types as T

        keys = tombs[0][1]
        tomb_st = _key_schema(
            T.StructType.fromJson(json.loads(links[-1].schema_json)), keys
        )
        flat = tomb_st.fieldNames()
        tparts = []
        for i, t_on in tombs:
            if t_on != keys:
                raise ValueError(
                    f"{full} v{links[i].version}: tombstone keys {t_on} "
                    f"differ from the chain's {keys} — chains must keep "
                    "one delta key set; compact before changing keys"
                )
            tparts.append(
                spark.read.schema(tomb_st).parquet(
                    self.version_tombstone_path(full, links[i].version)
                ).withColumn("__dcs_tlink", F.lit(i))
            )
        union = reduce(DataFrame.unionByName, tparts)
        tomb = union.groupBy(*flat).agg(F.max("__dcs_tlink").alias("__dcs_tmax"))
        return keys, tomb.select(
            *[F.col(f).alias(f"__dcs_tk{j}") for j, f in enumerate(flat)],
            "__dcs_tmax",
        )

    @staticmethod
    def _visible_rows(rows: DataFrame, link_of, keys: list[str],
                      tomb: DataFrame) -> DataFrame:
        cond = None
        for j, k in enumerate(keys):
            c = _nested_col(rows, k).eqNullSafe(F.col(f"__dcs_tk{j}"))
            cond = c if cond is None else cond & c
        joined = rows.join(F.broadcast(tomb), cond, "left")
        return joined.filter(
            F.col("__dcs_tmax").isNull() | (F.col("__dcs_tmax") <= link_of)
        )

    def _bucket_table_name(self, ns: str, proj: str, base: str, version: str) -> str:
        raw = f"dcs__{ns}_{proj}_{base}_{version}"
        return re.sub(r"[^A-Za-z0-9_]", "_", raw).lower()

    def _load_bucketed(self, spark: SparkSession, dv: DatasetVersion, data_path: str) -> DataFrame:
        """Read a bucketed version through the session catalog (the bucket
        spec only reaches the planner via a table). If this session doesn't
        know the table yet (fresh JVM — the in-memory catalog died with the
        writer's session), re-register it as an external CLUSTERED BY table
        over the existing files; with a persistent metastore (Hive/Glue) the
        original registration survives instead."""
        from pyspark.sql import types as T

        tbl = dv.bucket["table"]
        if not spark.catalog.tableExists(tbl):
            st = T.StructType.fromJson(json.loads(dv.schema_json))
            ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in st.fields)
            by = ", ".join(f"`{c}`" for c in dv.bucket["by"])
            sort = ""
            if dv.bucket.get("sort"):
                sort_cols = ", ".join(f"`{c}`" for c in dv.bucket["sort"])
                sort = f" SORTED BY ({sort_cols})"
            spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING parquet "
                f"CLUSTERED BY ({by}){sort} INTO {dv.bucket['num']} BUCKETS "
                f"LOCATION '{data_path}'"
            )
        return spark.table(tbl)

    def compact_dataset(
        self,
        spark: SparkSession,
        name: str,
        version: Optional[str] = None,
        target_file_bytes: int = 128 << 20,
        refresh_indexes: bool = True,
    ) -> DatasetVersion:
        """Small-file compaction (the OPTIMIZE-style table-maintenance pass):
        rewrite a version's data as a NEW patch version with files sized to
        ``target_file_bytes``, lineage recording the source version. A
        100-TB table accumulates small files from incremental appends and
        fine-grained writes; tiny files tax every downstream scan (per-file
        open cost, starved vectorized readers, listing pressure).

        Shrinking uses ``coalesce`` — a NARROW merge of existing partitions,
        no shuffle, no re-sort of file contents; growing (files too big)
        uses a plain repartition. Note coalesce concatenates arbitrary
        partitions: a Z-ordered/bucketed layout should be re-laid-out via
        save(zorder_by=...)/save(bucket_by=...) instead of compacted
        (bucketed versions are rejected here — their file count IS the
        bucket spec).

        The new version patch-bumps the SOURCE version (not the record's
        latest), so compacting an old snapshot can never silently replace
        newer data at the dataset head; the source's signal schema and
        attrs carry over, and the record-level description is untouched
        (the compaction note lives in the version's attrs).

        ``refresh_indexes`` (default True) keeps per-version state
        consistent with the rewritten layout: a zone map is FILE-level
        state, so the source version's index is rebuilt over the new
        files (same indexed columns); IVF/BM25/gram indexes are
        ROW-level and stay valid — they re-link to the new version via
        their refresh paths, which find zero churn (the data is
        unchanged); a stored PROFILE is re-linked as-is (sketches are of
        rows, not files). Without this, the compacted version would
        silently lose the ``read_dataset(prune=...)`` / ``ann_search`` /
        ``bm25_search`` / ``find_substring`` / ``release_report``
        support its source had."""
        if target_file_bytes <= 0:
            raise ValueError(
                f"target_file_bytes must be > 0, got {target_file_bytes}"
            )
        ns, proj, base = split_name(name)
        rec = self._read_record(ns, proj, base)
        if rec is None:
            raise DatasetNotFoundError(f"dataset not found: {name}")
        dv = rec.get_version(version)
        if dv.bucket:
            raise ValueError(
                f"{name}@{dv.version} is bucketed — its file count is the "
                "bucket spec; re-save with bucket_by to change layout"
            )
        n_files, n_target, _total = self._fragmentation(
            f"{ns}.{proj}.{base}", dv.version, target_file_bytes
        )
        # chain-aware read: compacting an append-fast-path chain folds
        # every referenced dir into one self-contained copy
        df, _, _ = self.load_dataset(spark, name, dv.version)
        out = df.coalesce(n_target) if n_target <= n_files else df.repartition(n_target)
        new_version = bump_version(dv.version, "patch")
        taken = {v.version for v in rec.versions}
        while new_version in taken:
            new_version = bump_version(new_version, "patch")
        newer = [
            v.version for v in rec.versions
            if parse_version(v.version) > parse_version(dv.version)
        ]
        if newer and parse_version(new_version) > min(
            parse_version(v) for v in newer
        ):
            # a compacted copy that sorts PAST a newer release would
            # become the dataset head and silently shadow newer data on
            # every default read — refuse loudly instead
            raise ValueError(
                f"compact_dataset: no free patch slot between "
                f"{dv.version} and the next release — compacting this "
                "old snapshot would shadow newer data at the head; "
                "compact the latest version instead"
            )
        new_dv = self.save_dataset(
            out,
            name,
            version=new_version,
            attrs={
                # the copy is self-contained: it must not inherit the
                # source's chain reference or its tombstone marker
                **{k: v for k, v in dv.attrs.items()
                   if k not in ("extends_version", "tombstone_on")},
                "compacted_from": dv.version,
                "compacted_files": f"{n_files}->{n_target}",
            },
            # the copy has IDENTICAL rows, so it inherits the source
            # version's upstream lineage (minus any self-pins from an
            # earlier compaction) on top of its own rewrite provenance —
            # otherwise compaction severs the dependency edge and the
            # lineage cascade (lineage.refresh_downstream) silently
            # drops this dataset from the graph
            dependencies=[
                {"dataset": name, "version": dv.version},
                *[
                    dict(d) for d in dv.dependencies
                    if not (
                        d.get("dataset")
                        and split_name(d["dataset"]) == (ns, proj, base)
                    )
                ],
            ],
            signal_schema=json.loads(json.dumps(dv.signal_schema))
            if dv.signal_schema
            else None,
        )
        if refresh_indexes:
            self._refresh_linked_indexes(spark, name, dv, new_dv)
        return new_dv

    def _fragmentation(
        self, full_name: str, version: str, target_file_bytes: int
    ) -> tuple[int, int, int]:
        """(current parquet file count, target file count, total bytes) of
        a version's layout — the single source of the fragmentation
        predicate shared by compact_dataset and delta_save's
        should_compact precheck."""
        import math as _math

        ns, proj, base = split_name(full_name)
        rec = self._read_record(ns, proj, base)
        dv = rec.get_version(version) if rec else None
        paths = (
            self._chain_data_paths(rec, dv)
            if dv is not None and dv.attrs.get("extends_version")
            else [self.version_data_path(full_name, version)]
        )
        files = [
            os.path.join(p, f)
            for p in paths
            if os.path.isdir(p)
            for f in os.listdir(p)
            if f.endswith(".parquet")
        ]
        total = sum(os.path.getsize(f) for f in files)
        return len(files), max(1, _math.ceil(total / target_file_bytes)), total

    def should_compact(
        self, name: str, version: Optional[str], target_file_bytes: int
    ) -> bool:
        """True when the version's layout has more files than the target
        layout would (bucketed versions are never compacted — their file
        count IS the bucket spec)."""
        ns, proj, base = split_name(name)
        rec = self._read_record(ns, proj, base)
        if rec is None:
            raise DatasetNotFoundError(f"dataset not found: {name}")
        dv = rec.get_version(version)
        if dv.bucket:
            return False
        n_files, n_target, _ = self._fragmentation(
            f"{ns}.{proj}.{base}", dv.version, target_file_bytes
        )
        return n_files > n_target

    def _refresh_linked_indexes(
        self,
        spark: SparkSession,
        name: str,
        src_dv: DatasetVersion,
        new_dv: DatasetVersion,
    ) -> None:
        """Carry the source version's per-version state over to a
        rewritten copy of the same rows (compaction): rebuild the
        file-level zone map on the new files; refresh the row-level
        IVF/BM25/gram indexes (zero churn — same data, new version
        link); re-link the stored profile sketch as-is."""
        zns, zproj, zbase = split_name(f"{name}__zones")
        zrec = self._read_record(zns, zproj, zbase)
        zmatches = [
            v for v in (zrec.versions if zrec else [])
            if v.attrs.get("zones_of_version") == src_dv.version
        ]
        if zmatches:
            newest = max(zmatches, key=lambda v: parse_version(v.version))
            cols = [
                c for c in newest.attrs.get("zones_cols", "").split(",") if c
            ]
            if cols:
                self.zone_index_dataset(
                    spark, name, cols, version=new_dv.version
                )
        ins, iproj, ibase = split_name(f"{name}__ivf")
        irec = self._read_record(ins, iproj, ibase)
        imatches = [
            v for v in (irec.versions if irec else [])
            if v.attrs.get("ivf_of_version") == src_dv.version
        ]
        if imatches:
            newest = max(imatches, key=lambda v: parse_version(v.version))
            # id/vec column names are stamped in the index attrs at build
            # time; fall back to schema inference only for indexes built
            # before the attrs existed
            id_col = newest.attrs.get("ivf_id_col")
            vec_col = newest.attrs.get("ivf_vec_col")
            if not (id_col and vec_col):
                idx, _, _ = self.load_dataset(
                    spark, f"{name}__ivf", newest.version
                )
                others = [c for c in idx.columns if c != "cell"]
                vec_col = next(
                    (c for c in others
                     if dict(idx.dtypes)[c].startswith("array")), None
                )
                id_cols = [c for c in others if c != vec_col]
                id_col = id_cols[0] if len(id_cols) == 1 else None
            if id_col and vec_col:
                self.ann_index_refresh(
                    spark, name, id_col, vec_col=vec_col,
                    version=new_dv.version,
                )
            else:
                import warnings

                warnings.warn(
                    f"compact_dataset: could not infer the id/vector "
                    f"columns of {name}__ivf@{newest.version} — the "
                    "compacted version is NOT ann_search-able; rebuild "
                    "with ann_index_dataset",
                    stacklevel=2,
                )
        def _any_generation_links(suffix: str, key: str) -> bool:
            # per-version match like the zone carry above — the NEWEST
            # generation may belong to a different version, but the
            # fingerprint-join refresh is correct against ANY base
            gns, gproj, gbase = split_name(f"{name}{suffix}")
            grec2 = self._read_record(gns, gproj, gbase)
            return any(
                v.attrs.get(key) == src_dv.version
                for v in (grec2.versions if grec2 else [])
            )

        if _any_generation_links("__bm25", "bm25_of_version"):
            # zero-churn refresh vs the compacted copy: every fingerprint
            # matches its base, postings carry
            self.bm25_index_refresh(spark, name, version=new_dv.version)
        if _any_generation_links("__grams", "grams_of_version"):
            self.gram_index_refresh(spark, name, version=new_dv.version)
        pns, pproj, pbase = split_name(f"{name}__profile")
        prec = self._read_record(pns, pproj, pbase)
        pmatches = [
            v for v in (prec.versions if prec else [])
            if v.attrs.get("profile_of_version") == src_dv.version
        ]
        if pmatches:
            # sketches are row-level state — re-link the stored frame
            pbest = max(pmatches, key=lambda v: parse_version(v.version))
            pdf, _, _ = self.load_dataset(
                spark, f"{name}__profile", pbest.version
            )
            self.save_dataset(
                pdf, f"{name}__profile",
                attrs={**pbest.attrs,
                       "profile_of_version": new_dv.version,
                       "profile_relinked_from": src_dv.version},
                dependencies=[{"dataset": name, "version": new_dv.version}],
            )

    def list_datasets(self) -> list[DatasetRecord]:
        out = []
        for ns in sorted(os.listdir(self.root)) if os.path.isdir(self.root) else []:
            ns_dir = os.path.join(self.root, ns)
            if not os.path.isdir(ns_dir):
                continue
            for proj in sorted(os.listdir(ns_dir)):
                proj_dir = os.path.join(ns_dir, proj)
                if not os.path.isdir(proj_dir):
                    continue
                for name in sorted(os.listdir(proj_dir)):
                    rec = self._read_record(ns, proj, name)
                    if rec is not None:
                        out.append(rec)
        return out

    def delete_dataset(
        self, name: str, version: Optional[str] = None, force: bool = False
    ) -> None:
        """Parity: delete_dataset (/root/reference/src/datachain/lib/dc/
        datasets.py:303-430) — one version or the whole dataset."""
        ns, proj, base = split_name(name)
        rec = self._read_record(ns, proj, base)
        if rec is None:
            if force:
                return
            raise DatasetNotFoundError(f"dataset not found: {name}")
        if version is None:
            self._drop_bucket_tables(rec.versions)
            shutil.rmtree(self._ds_dir(ns, proj, base), ignore_errors=True)
            return
        referrers = [
            v.version for v in rec.versions
            if v.version != version
            and version in self._extends_closure(rec, v)
        ]
        if referrers and not force:
            # an append-fast-path version references this version's
            # files — deleting them would silently corrupt the newer
            # version; fail closed (compact the head first to make it
            # self-contained, or force=True to accept the loss)
            raise ValueError(
                f"delete_dataset: {name}@{version} is the append base of "
                f"live version(s) {referrers} — compact the head into a "
                "self-contained copy first, or pass force=True"
            )
        self._drop_bucket_tables([v for v in rec.versions if v.version == version])
        rec.versions = [v for v in rec.versions if v.version != version]
        shutil.rmtree(
            os.path.dirname(self.version_data_path(f"{ns}.{proj}.{base}", version)),
            ignore_errors=True,
        )
        if rec.versions:
            self._write_record(rec)
        else:
            shutil.rmtree(self._ds_dir(ns, proj, base), ignore_errors=True)

    def zone_index_dataset(
        self,
        spark: SparkSession,
        name: str,
        cols: Sequence[str],
        version: Optional[str] = None,
    ) -> DatasetVersion:
        """Build the file-level zone map of a saved version (ops/pruning.
        file_stats_index — one column-pruned scan, #files rows) and
        persist it as ``{name}__zones``, versioned like any dataset and
        linked by lineage + attrs to the exact source version. The
        manifest-list pattern: build once per snapshot, answer every
        later range-predicate cost question from the index alone. Pair
        with ``save(zorder_by=...)`` — Z-ordering exists to make these
        zones tight."""
        from ..ops.pruning import file_stats_index

        df, _rec, dv = self.load_dataset(spark, name, version)
        if dv.attrs.get("extends_version"):
            links = self._chain_versions(_rec, dv)
            if any(v.attrs.get("tombstone_on") for v in links):
                # file identity does not survive the tombstone visibility
                # join — re-assemble the chain with the file path
                # materialized on each scan, under a name the data cannot
                # collide with, and index that column
                fcol = "file"
                while fcol in df.columns:
                    fcol = "_" + fcol
                full = f"{_rec.namespace}.{_rec.project}.{_rec.name}"
                cdf = self._load_chain(spark, full, _rec, dv, file_col=fcol)
                idx = file_stats_index(cdf, list(cols), file_col=fcol)
                if fcol != "file":
                    idx = idx.withColumnRenamed(fcol, "file")
                return self.save_dataset(
                    idx,
                    f"{name}__zones",
                    attrs={
                        "zones_of": name,
                        "zones_of_version": dv.version,
                        "zones_cols": ",".join(cols),
                    },
                    dependencies=[{"dataset": name, "version": dv.version}],
                )
        idx = file_stats_index(df, list(cols))
        return self.save_dataset(
            idx,
            f"{name}__zones",
            attrs={
                "zones_of": name,
                "zones_of_version": dv.version,
                "zones_cols": ",".join(cols),
            },
            dependencies=[{"dataset": name, "version": dv.version}],
        )

    def _load_zone_index(
        self, spark: SparkSession, name: str, version: Optional[str]
    ) -> DataFrame:
        ns, proj, base = split_name(name)
        rec = self._read_record(ns, proj, base)
        if rec is None:
            raise DatasetNotFoundError(f"dataset not found: {name}")
        dv = rec.get_version(version)
        zname = f"{name}__zones"
        zns, zproj, zbase = split_name(zname)
        zrec = self._read_record(zns, zproj, zbase)
        matches = [
            zv for zv in (zrec.versions if zrec else [])
            if zv.attrs.get("zones_of_version") == dv.version
        ]
        if not matches:
            raise DatasetNotFoundError(
                f"no zone index for {name}@{dv.version} — build one with "
                "zone_index_dataset(name, cols)"
            )
        newest = max(matches, key=lambda v: parse_version(v.version))
        df, _, _ = self.load_dataset(spark, zname, newest.version)
        return df

    def prune_stats(
        self,
        spark: SparkSession,
        name: str,
        intervals: Mapping[str, tuple],
        version: Optional[str] = None,
    ) -> DataFrame:
        """ONE-row skip report for range predicates against a saved
        version, answered from its persisted zone index without touching
        the data (ops/pruning.prune_report)."""
        from ..ops.pruning import prune_report

        return prune_report(self._load_zone_index(spark, name, version),
                            dict(intervals))

    def read_pruned(
        self,
        spark: SparkSession,
        name: str,
        intervals: Mapping[str, tuple],
        version: Optional[str] = None,
    ) -> DataFrame:
        """Scan ONLY the files of a saved version whose zones overlap the
        range predicates (ops/pruning.pruned_read). Zone overlap is
        necessary, not sufficient — callers re-apply the row filter.
        A predicate no zone overlaps returns an EMPTY frame with the
        version's schema (0 matching rows is a valid answer, not an
        error); the version's data path is passed as basePath so
        hive-partition columns survive the leaf-file read."""
        from pyspark.sql import types as T

        from ..ops.pruning import pruned_read

        ns, proj, base = split_name(name)
        rec = self._read_record(ns, proj, base)
        if rec is None:
            raise DatasetNotFoundError(f"dataset not found: {name}")
        dv = rec.get_version(version)
        # an append-chain version's surviving files span several version
        # dirs — the dataset dir is the common basePath there
        data_path = (
            self._ds_dir(ns, proj, base)
            if dv.attrs.get("extends_version")
            else self.version_data_path(f"{ns}.{proj}.{base}", dv.version)
        )
        try:
            out = pruned_read(
                spark, self._load_zone_index(spark, name, version),
                dict(intervals), base_path=data_path,
            )
        except ValueError as e:
            if "no files survive" not in str(e):
                raise  # interval/zone validation errors are caller bugs
            schema = T.StructType.fromJson(json.loads(dv.schema_json))
            return spark.createDataFrame([], schema)
        if dv.attrs.get("extends_version"):
            # a chain with tombstoned links must hide displaced rows in
            # pruned reads too: derive each row's chain ordinal from the
            # version dir in its file path, then apply the same
            # later-link-tombstones-kill visibility rule as load_dataset
            full = f"{ns}.{proj}.{base}"
            links = self._chain_versions(rec, dv)
            tombs = [
                (i, json.loads(v.attrs["tombstone_on"]))
                for i, v in enumerate(links)
                if v.attrs.get("tombstone_on")
            ]
            if tombs:
                # materialize the chain ordinal ON the scan (file-path
                # functions cannot be evaluated after the visibility join)
                link_col = "__dcs_link"
                while link_col in out.columns:
                    link_col += "_"
                fname = F.col("_metadata.file_path")
                link_of = F.lit(-1)
                for i, v in enumerate(links):
                    link_of = F.when(
                        fname.contains(f"/v{v.version}/data/"), F.lit(i)
                    ).otherwise(link_of)
                data_cols = list(out.columns)
                out = out.withColumn(link_col, link_of)
                keys, tomb = self._chain_tombstones(spark, full, links, tombs)
                out = self._visible_rows(
                    out, F.col(link_col), keys, tomb
                ).select(
                    *[F.col("`" + c.replace("`", "``") + "`")
                      for c in data_cols]
                )
        return out

    def ann_index_dataset(
        self,
        spark: SparkSession,
        name: str,
        id_col: str,
        vec_col: str = "embedding",
        num_cells: int = 16,
        kmeans_iters: int = 2,
        seed: int = 42,
        version: Optional[str] = None,
    ) -> DatasetVersion:
        """Build and persist an IVF similarity index for a saved version —
        the materialize-the-assignments step ops/similarity documents:

        - ``{name}__ivf``: the (id, vector, cell) rows BUCKETED by cell,
          so a probe's ``cell IN (...)`` filter prunes buckets instead of
          scanning the corpus;
        - ``{name}__ivf_centroids``: the num_cells coarse-quantizer rows
          (the only driver-sized state).

        Both are ordinary dataset versions linked by lineage/attrs to the
        exact source version — search indexes version beside the data
        they index, like the zone maps. Rebuild per snapshot; at 100 TB
        the build is ``kmeans_iters + 1`` scans and one bucket shuffle.
        """
        from ..ops.similarity import (
            assign_ivf_cells,
            kmeans_refine,
            train_centroids_sample,
        )

        df, _rec, dv = self.load_dataset(spark, name, version)
        cents = train_centroids_sample(df, vec_col, num_cells, seed=seed)
        if kmeans_iters > 0:
            cents = kmeans_refine(df, cents, vec_col, iters=kmeans_iters)
        assigned = assign_ivf_cells(df, cents, vec_col, "cell").select(
            id_col, vec_col, "cell"
        )
        link = {"ivf_of": name, "ivf_of_version": dv.version,
                "ivf_cells": str(len(cents)),
                "ivf_id_col": id_col, "ivf_vec_col": vec_col}
        cent_df = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "cell int, centroid array<double>",
        )
        self.save_dataset(
            cent_df, f"{name}__ivf_centroids", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
        )
        return self.save_dataset(
            assigned, f"{name}__ivf", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
            bucket_by=["cell"], num_buckets=max(2, len(cents)),
        )

    def ann_index_refresh(
        self,
        spark: SparkSession,
        name: str,
        id_col: str,
        vec_col: str = "embedding",
        num_cells: int = 16,
        kmeans_iters: int = 2,
        seed: int = 42,
        version: Optional[str] = None,
        changed_keys: Optional[DataFrame] = None,
        changed_since: Optional[str] = None,
    ) -> DatasetVersion:
        """Incrementally refresh the IVF index for a NEW version of
        ``name`` from the newest existing index generation — the
        incremental story applied to the index itself (r08 verdict task
        4): the coarse quantizer (centroid table) is REUSED verbatim,
        vectors already assigned keep their stored cells, and only rows
        that are new or changed run through cell assignment. Deleted ids
        drop (the refreshed index starts from the new version's rows).
        Falls back to a full :meth:`ann_index_dataset` build when no
        earlier index generation exists.

        Assignment is deterministic given centroids, so the refreshed
        index is row-identical to re-assigning the WHOLE new version
        against the same centroids (pinned by tests + the
        ``delta_ivf_refresh_emb`` oracle's full-probe == brute-force
        check).

        ``changed_keys``: optional single-column frame of ids known to
        need reassignment (delta_save passes its reprocessed key set);
        a superset is safe — reassigning an unchanged vector lands in
        the same cell. Without it, changed rows are detected in-plan by
        comparing stored vs current vectors (array equality on one
        id-equi-join; no driver state).

        ``changed_since``: the version string ``changed_keys`` was
        diffed against. The key set is only sound when the refresh base
        IS that version — if the newest index generation belongs to a
        different version (e.g. an intermediate save ran without index
        maintenance), the keys are silently ignored and the refresh
        falls back to the vector comparison, which is correct against
        ANY base.

        100-TB shape: ONE id-shuffle join of the new version against the
        previous index, codegen assignment only on the changed slice —
        no k-means retraining scans, no full-corpus distance pass.
        """
        from ..ops.similarity import assign_ivf_cells

        if changed_keys is not None and changed_since is None:
            # an incomplete key set with no base version would silently
            # keep stale cell assignments for rows whose vectors changed
            # outside the set — force callers to state what the keys were
            # diffed against (delta_save always does)
            raise ValueError(
                "ann_index_refresh: changed_keys requires changed_since="
                "<the version the keys were diffed against>; omit both to "
                "detect changes by in-plan vector comparison"
            )
        prev = self._newest_ann_generation(spark, name)
        if prev is None:
            return self.ann_index_dataset(
                spark, name, id_col, vec_col=vec_col, num_cells=num_cells,
                kmeans_iters=kmeans_iters, seed=seed, version=version,
            )
        prev_idx, cents, prev_gen = prev
        if (
            changed_keys is not None
            and changed_since is not None
            and changed_since != prev_gen
        ):
            # the key set was diffed against a version that is NOT the
            # refresh base — rows changed in between would keep stale
            # cells; the in-plan vector comparison is correct vs any base
            changed_keys = None

        df, _rec, dv = self.load_dataset(spark, name, version)
        new = df.select(id_col, vec_col)
        prev_sel = prev_idx.select(
            F.col(id_col),
            F.col(vec_col).alias("__prev_vec"),
            F.col("cell").alias("__prev_cell"),
        )
        joined = new.join(prev_sel, on=id_col, how="left")
        if changed_keys is not None:
            ck = changed_keys.toDF(id_col).dropDuplicates().withColumn(
                "__chg", F.lit(True)
            )
            joined = joined.join(ck, on=id_col, how="left")
            # __chg is NULL (not False) for keys absent from changed_keys
            # — coalesce it BEFORE the OR, or three-valued logic turns
            # every unchanged row into NULL and the conservative outer
            # coalesce reassigns the whole corpus (correct but no longer
            # incremental)
            changed = F.col("__prev_cell").isNull() | F.coalesce(
                F.col("__chg"), F.lit(False)
            )
        else:
            changed = F.col("__prev_vec").isNull() | (
                F.col(vec_col) != F.col("__prev_vec")
            )
        changed = F.coalesce(changed, F.lit(True))
        unchanged_part = joined.filter(~changed).select(
            id_col, vec_col, F.col("__prev_cell").alias("cell")
        )
        assigned_part = assign_ivf_cells(
            joined.filter(changed).select(id_col, vec_col),
            cents, vec_col, "cell",
        ).select(id_col, vec_col, "cell")
        refreshed = unchanged_part.unionByName(assigned_part)

        link = {"ivf_of": name, "ivf_of_version": dv.version,
                "ivf_cells": str(len(cents)),
                "ivf_id_col": id_col, "ivf_vec_col": vec_col,
                "ivf_refreshed_from": prev_gen}
        cent_df = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "cell int, centroid array<double>",
        )
        self.save_dataset(
            cent_df, f"{name}__ivf_centroids", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
        )
        return self.save_dataset(
            refreshed, f"{name}__ivf", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
            bucket_by=["cell"], num_buckets=max(2, len(cents)),
        )

    def _newest_ann_generation(
        self, spark: SparkSession, name: str
    ) -> Optional[tuple[DataFrame, list[list[float]], str]]:
        """Newest (index rows, centroids, source-version string) across
        ALL index generations of ``name`` — the refresh base. None when
        the dataset has never been indexed."""
        ins, iproj, ibase = split_name(f"{name}__ivf")
        irec = self._read_record(ins, iproj, ibase)
        if irec is None or not irec.versions:
            return None
        best = max(irec.versions, key=lambda v: parse_version(v.version))
        gen = best.attrs.get("ivf_of_version", "")
        idx, _, _ = self.load_dataset(spark, f"{name}__ivf", best.version)
        cns, cproj, cbase = split_name(f"{name}__ivf_centroids")
        crec = self._read_record(cns, cproj, cbase)
        matches = [
            v for v in (crec.versions if crec else [])
            if v.attrs.get("ivf_of_version") == gen
        ]
        if not matches:
            return None
        cbest = max(matches, key=lambda v: parse_version(v.version))
        cdf, _, _ = self.load_dataset(
            spark, f"{name}__ivf_centroids", cbest.version
        )
        cents = [list(r["centroid"]) for r in cdf.orderBy("cell").collect()]
        return idx, cents, gen

    def bm25_index_dataset(
        self,
        spark: SparkSession,
        name: str,
        id_col: str,
        text_col: str = "text",
        version: Optional[str] = None,
    ) -> DatasetVersion:
        """Build and persist the BM25 lexical index of a saved version —
        ``{name}__bm25`` (the (term, doc, tf) postings, BUCKETED by term
        so a query's ``term IN (...)`` filter prunes buckets) and
        ``{name}__bm25_docs`` (doc lengths + raw-text fingerprints, the
        change detector for the incremental refresh). Both are ordinary
        dataset versions linked by ``bm25_of_version`` — the lexical
        sibling of :meth:`ann_index_dataset`."""
        from ..ops.retrieval import bm25_index_frames

        df, _rec, dv = self.load_dataset(spark, name, version)
        postings, doclens = bm25_index_frames(df, id_col, text_col)
        link = {"bm25_of": name, "bm25_of_version": dv.version,
                "bm25_id_col": id_col, "bm25_text_col": text_col}
        self.save_dataset(
            doclens, f"{name}__bm25_docs", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
        )
        return self.save_dataset(
            postings, f"{name}__bm25", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
            bucket_by=["term"], num_buckets=16,
        )

    def bm25_index_refresh(
        self,
        spark: SparkSession,
        name: str,
        version: Optional[str] = None,
    ) -> DatasetVersion:
        """Incrementally refresh the BM25 index for a NEW version of
        ``name`` from the newest existing index generation: documents
        whose raw-text FINGERPRINT is unchanged keep their stored
        postings and length rows — they are never re-tokenized — and
        only new/changed documents pay the tokenize + explode cost.
        Deleted ids drop (the doc table starts from the new version's
        rows). Raises when no earlier generation exists — the id/text
        columns live in the generation's attrs, so the first build must
        go through :meth:`bm25_index_dataset`.

        100-TB shape: one cheap fingerprint projection over the new
        version, one id-join against the stored doc table, one
        doc-semi-join to carry unchanged postings, tokenization only on
        the churn — the :meth:`ann_index_refresh` philosophy applied to
        lexical retrieval."""
        from ..ops.retrieval import bm25_index_frames

        prev = self._newest_bm25_generation(spark, name)
        if prev is None:
            raise DatasetNotFoundError(
                f"no BM25 index for {name!r} — build one with "
                "bm25_index_dataset(name, id_col)"
            )
        prev_post, prev_docs, attrs = prev
        id_col = attrs["bm25_id_col"]
        text_col = attrs["bm25_text_col"]

        df, _rec, dv = self.load_dataset(spark, name, version)
        fp_new = df.select(
            F.col(id_col).alias("doc"),
            F.xxhash64(
                F.coalesce(F.col(text_col), F.lit(""))
            ).alias("__fp_new"),
        )
        match = fp_new.join(
            prev_docs.select("doc", F.col("fp").alias("__fp_old")),
            "doc", "left",
        )
        unchanged_ids = match.filter(
            F.col("__fp_old").isNotNull()
            & (F.col("__fp_new") == F.col("__fp_old"))
        ).select("doc")
        changed_rows = df.join(
            unchanged_ids.withColumnRenamed("doc", id_col),
            id_col, "left_anti",
        )
        new_post, new_docs = bm25_index_frames(
            changed_rows, id_col, text_col
        )
        postings = prev_post.join(unchanged_ids, "doc", "left_semi") \
            .unionByName(new_post)
        doclens = prev_docs.join(unchanged_ids, "doc", "left_semi") \
            .unionByName(new_docs)

        link = {"bm25_of": name, "bm25_of_version": dv.version,
                "bm25_id_col": id_col, "bm25_text_col": text_col,
                "bm25_refreshed_from": attrs.get("bm25_of_version", "")}
        self.save_dataset(
            doclens, f"{name}__bm25_docs", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
        )
        return self.save_dataset(
            postings, f"{name}__bm25", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
            bucket_by=["term"], num_buckets=16,
        )

    def gram_index_dataset(
        self,
        spark: SparkSession,
        name: str,
        id_col: str,
        text_col: str = "text",
        ngram: int = 3,
        version: Optional[str] = None,
    ) -> DatasetVersion:
        """Build and persist the word-n-gram posting frame of a saved
        version (ops/text.substring_index) as ``{name}__grams``,
        BUCKETED by ``ngram_hash`` so a :meth:`find_substring` probe's
        ``IN`` filter prunes buckets — the phrase-search sibling of the
        zone/IVF/BM25 per-version indexes. Also persists
        ``{name}__grams_docs`` — per-document raw-text fingerprints, the
        change detector :meth:`gram_index_refresh` joins on so unchanged
        documents are never re-shingled."""
        from ..ops.text import substring_index

        df, _rec, dv = self.load_dataset(spark, name, version)
        idx = substring_index(df, id_col, text_col, ngram=ngram)
        link = {"grams_of": name, "grams_of_version": dv.version,
                "grams_id_col": id_col, "grams_text_col": text_col,
                "grams_ngram": str(int(ngram))}
        self.save_dataset(
            self._gram_fingerprints(df, id_col, text_col),
            f"{name}__grams_docs", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
        )
        return self.save_dataset(
            idx, f"{name}__grams", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
            bucket_by=["ngram_hash"], num_buckets=16,
        )

    @staticmethod
    def _gram_fingerprints(
        df: DataFrame, id_col: str, text_col: str
    ) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc"),
            F.xxhash64(F.coalesce(F.col(text_col), F.lit(""))).alias("fp"),
        )

    def _newest_grams_generation(
        self, spark: SparkSession, name: str
    ) -> Optional[tuple[DataFrame, Optional[DataFrame], dict]]:
        """(postings, fingerprint docs or None, attrs) of the newest gram
        index generation of ``name``; None when never indexed. The docs
        frame is None for indexes built before the fingerprint table
        existed — refresh falls back to a full rebuild there."""
        gns, gproj, gbase = split_name(f"{name}__grams")
        grec = self._read_record(gns, gproj, gbase)
        if grec is None or not grec.versions:
            return None
        best = max(grec.versions, key=lambda v: parse_version(v.version))
        gen = best.attrs.get("grams_of_version", "")
        idx, _, _ = self.load_dataset(spark, f"{name}__grams", best.version)
        dns, dproj, dbase = split_name(f"{name}__grams_docs")
        drec = self._read_record(dns, dproj, dbase)
        matches = [
            v for v in (drec.versions if drec else [])
            if v.attrs.get("grams_of_version") == gen
        ]
        docs = None
        if matches:
            dbest = max(matches, key=lambda v: parse_version(v.version))
            docs, _, _ = self.load_dataset(
                spark, f"{name}__grams_docs", dbest.version
            )
        return idx, docs, dict(best.attrs)

    def gram_index_refresh(
        self,
        spark: SparkSession,
        name: str,
        version: Optional[str] = None,
    ) -> DatasetVersion:
        """Incrementally refresh the gram index for a NEW version of
        ``name`` from the newest existing generation: documents whose
        raw-text FINGERPRINT is unchanged keep their stored posting rows
        — they are never re-shingled — and only new/changed documents
        pay the shingle + hash cost. Deleted ids drop (the fingerprint
        table starts from the new version's rows). Raises when no
        earlier generation exists; rebuilds from scratch when the stored
        generation predates the fingerprint table (legacy index).

        100-TB shape: one cheap fingerprint projection over the new
        version, one id-join against the stored fingerprint table, one
        doc-semi-join to carry unchanged postings, shingling only on the
        churn — the :meth:`bm25_index_refresh` pattern applied to the
        phrase-search index (r09 verdict task 7)."""
        from ..ops.text import substring_index

        prev = self._newest_grams_generation(spark, name)
        if prev is None:
            raise DatasetNotFoundError(
                f"no gram index for {name!r} — build one with "
                "gram_index_dataset(name, id_col)"
            )
        prev_idx, prev_docs, attrs = prev
        id_col = attrs["grams_id_col"]
        text_col = attrs["grams_text_col"]
        ngram = int(attrs.get("grams_ngram", "3"))
        if prev_docs is None:
            return self.gram_index_dataset(
                spark, name, id_col, text_col, ngram=ngram, version=version
            )

        df, _rec, dv = self.load_dataset(spark, name, version)
        fp_frame = self._gram_fingerprints(df, id_col, text_col)
        fp_new = fp_frame.withColumnRenamed("fp", "__fp_new")
        match = fp_new.join(
            prev_docs.select("doc", F.col("fp").alias("__fp_old")),
            "doc", "left",
        )
        unchanged_ids = match.filter(
            F.col("__fp_old").isNotNull()
            & (F.col("__fp_new") == F.col("__fp_old"))
        ).select("doc")
        changed_rows = df.join(
            unchanged_ids.withColumnRenamed("doc", id_col),
            id_col, "left_anti",
        )
        new_idx = substring_index(changed_rows, id_col, text_col, ngram=ngram)
        postings = prev_idx.join(
            unchanged_ids.withColumnRenamed("doc", id_col), id_col, "left_semi"
        ).unionByName(new_idx)
        link = {"grams_of": name, "grams_of_version": dv.version,
                "grams_id_col": id_col, "grams_text_col": text_col,
                "grams_ngram": str(ngram),
                "grams_refreshed_from": attrs.get("grams_of_version", "")}
        # reuse the fingerprint frame computed for the diff — a second
        # _gram_fingerprints(df) here would re-scan and re-hash the whole
        # text column (the "one cheap fingerprint projection" contract)
        self.save_dataset(
            fp_frame, f"{name}__grams_docs", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
        )
        return self.save_dataset(
            postings, f"{name}__grams", attrs=dict(link),
            dependencies=[{"dataset": name, "version": dv.version}],
            bucket_by=["ngram_hash"], num_buckets=16,
        )

    def find_substring(
        self,
        spark: SparkSession,
        name: str,
        needle: str,
        version: Optional[str] = None,
    ) -> DataFrame:
        """Exact word-boundary phrase search over a saved version through
        its persisted gram index (ops/text.find_substring): candidates
        from the index under a pushed IN filter, phrase confirmation
        only on candidate documents. Returns ``(id_col, pos)``."""
        from ..ops.text import find_substring as _fs

        ns, proj, base = split_name(name)
        rec = self._read_record(ns, proj, base)
        if rec is None:
            raise DatasetNotFoundError(f"dataset not found: {name}")
        dv = rec.get_version(version)
        gns, gproj, gbase = split_name(f"{name}__grams")
        grec = self._read_record(gns, gproj, gbase)
        matches = [
            v for v in (grec.versions if grec else [])
            if v.attrs.get("grams_of_version") == dv.version
        ]
        if not matches:
            raise DatasetNotFoundError(
                f"no gram index for {name}@{dv.version} — build one with "
                "gram_index_dataset(name, id_col)"
            )
        best = max(matches, key=lambda v: parse_version(v.version))
        idx, _, _ = self.load_dataset(spark, f"{name}__grams", best.version)
        corpus, _, _ = self.load_dataset(spark, name, dv.version)
        return _fs(
            corpus, idx, needle,
            best.attrs["grams_id_col"], best.attrs["grams_text_col"],
            ngram=int(best.attrs.get("grams_ngram", "3")),
        )

    def _newest_bm25_generation(
        self, spark: SparkSession, name: str
    ) -> Optional[tuple[DataFrame, DataFrame, dict]]:
        ins, iproj, ibase = split_name(f"{name}__bm25")
        irec = self._read_record(ins, iproj, ibase)
        if irec is None or not irec.versions:
            return None
        best = max(irec.versions, key=lambda v: parse_version(v.version))
        gen = best.attrs.get("bm25_of_version", "")
        post, _, _ = self.load_dataset(spark, f"{name}__bm25", best.version)
        dns, dproj, dbase = split_name(f"{name}__bm25_docs")
        drec = self._read_record(dns, dproj, dbase)
        matches = [
            v for v in (drec.versions if drec else [])
            if v.attrs.get("bm25_of_version") == gen
        ]
        if not matches:
            return None
        dbest = max(matches, key=lambda v: parse_version(v.version))
        docs, _, _ = self.load_dataset(
            spark, f"{name}__bm25_docs", dbest.version
        )
        return post, docs, dict(best.attrs)

    def bm25_search(
        self,
        spark: SparkSession,
        name: str,
        query: str,
        k: Optional[int] = None,
        k1: float = 1.2,
        b: float = 0.75,
        version: Optional[str] = None,
    ) -> DataFrame:
        """BM25 relevance over a saved version through its persisted index
        (the corpus text is never read): ``(id_col, dl, score)`` for
        every document, optionally cut to the top ``k`` (ties broken on
        the id). Requires an index generation for the resolved version —
        build with :meth:`bm25_index_dataset`, keep current with
        :meth:`bm25_index_refresh`."""
        ns, proj, base = split_name(name)
        rec = self._read_record(ns, proj, base)
        if rec is None:
            raise DatasetNotFoundError(f"dataset not found: {name}")
        dv = rec.get_version(version)

        def _for_version(suffix: str) -> DataFrame:
            sns, sproj, sbase = split_name(f"{name}{suffix}")
            srec = self._read_record(sns, sproj, sbase)
            matches = [
                v for v in (srec.versions if srec else [])
                if v.attrs.get("bm25_of_version") == dv.version
            ]
            if not matches:
                raise DatasetNotFoundError(
                    f"no BM25 index for {name}@{dv.version} — build one "
                    "with bm25_index_dataset / bm25_index_refresh"
                )
            best = max(matches, key=lambda v: parse_version(v.version))
            out, _, _ = self.load_dataset(
                spark, f"{name}{suffix}", best.version
            )
            return out, best.attrs

        post, attrs = _for_version("__bm25")
        docs, _ = _for_version("__bm25_docs")
        from ..ops.retrieval import bm25_index_score

        out = bm25_index_score(
            post, docs, query, attrs["bm25_id_col"], k1=k1, b=b
        )
        if k is not None:
            out = out.orderBy(
                F.desc("score"), F.col(attrs["bm25_id_col"])
            ).limit(int(k))
        return out

    def _load_ann_index(
        self, spark: SparkSession, name: str, version: Optional[str]
    ) -> tuple[DataFrame, list[list[float]]]:
        ns, proj, base = split_name(name)
        rec = self._read_record(ns, proj, base)
        if rec is None:
            raise DatasetNotFoundError(f"dataset not found: {name}")
        dv = rec.get_version(version)

        def _newest(suffix: str):
            sns, sproj, sbase = split_name(f"{name}{suffix}")
            srec = self._read_record(sns, sproj, sbase)
            matches = [
                v for v in (srec.versions if srec else [])
                if v.attrs.get("ivf_of_version") == dv.version
            ]
            if not matches:
                raise DatasetNotFoundError(
                    f"no IVF index for {name}@{dv.version} — build one "
                    "with ann_index_dataset(name, id_col)"
                )
            best = max(matches, key=lambda v: parse_version(v.version))
            out, _, _ = self.load_dataset(spark, f"{name}{suffix}", best.version)
            return out

        idx = _newest("__ivf")
        cent_rows = _newest("__ivf_centroids").orderBy("cell").collect()
        cents = [list(r["centroid"]) for r in cent_rows]
        return idx, cents

    def ann_search(
        self,
        spark: SparkSession,
        name: str,
        query_vec: Sequence[float],
        k: int = 10,
        n_probe: int = 4,
        vec_col: str = "embedding",
        id_cols: Optional[Sequence[str]] = None,
        version: Optional[str] = None,
    ) -> DataFrame:
        """Approximate top-k over a saved version through its persisted
        IVF index: probe the ``n_probe`` nearest cells (bucket-pruned
        scan), exact cosine top-k inside them. ``n_probe == num_cells``
        degrades gracefully to the exact answer."""
        idx, cents = self._load_ann_index(spark, name, version)
        from ..ops.similarity import ann_ivf_topk

        return ann_ivf_topk(
            idx, cents, list(query_vec), vec_col=vec_col, cell_col="cell",
            k=k, n_probe=n_probe, id_cols=id_cols,
        )

    def vacuum_dataset(
        self,
        name: str,
        keep_last: int = 3,
        older_than: Optional[float] = None,
        dry_run: bool = False,
        gc_indexes: bool = True,
    ) -> list[str]:
        """Retention GC: delete all but the newest ``keep_last`` versions
        of a dataset (by semver), returning the removed version strings.

        ``older_than`` (seconds) additionally protects recent versions —
        a version is removed only when it is BOTH past the keep window and
        older than the grace period, so an aggressive keep_last can't
        destroy versions still being consumed by a just-launched job.
        ``dry_run=True`` returns what would be removed without touching
        storage. The latest version is never removed. Storage-level GC
        for THIS dataset only: cross-dataset lineage entries are
        descriptive (the reference's convention) and not a retention lock.
        No reference counterpart (its SQLite warehouse has no file GC);
        the write-side complement of ``compact_dataset``.

        ``gc_indexes`` (default True) also removes zone/IVF/BM25 index
        versions whose SOURCE data version was just vacuumed — a zone map
        indexes files and postings/cells index rows, so they are useless
        once the data is gone. PROFILE versions are deliberately KEPT:
        answering release questions about vacuumed history from sketch
        state is exactly what ops/release exists for.
        """
        if keep_last < 1:
            raise ValueError("vacuum_dataset: keep_last must be >= 1")
        ns, proj, base = split_name(name)
        rec = self._read_record(ns, proj, base)
        if rec is None:
            raise DatasetNotFoundError(f"dataset not found: {name}")
        ordered = sorted(
            rec.versions, key=lambda v: parse_version(v.version), reverse=True
        )
        now = time.time()
        doomed = [
            v.version
            for v in ordered[keep_last:]
            if older_than is None or (now - v.created_at) >= older_than
        ]
        # never GC a version whose files a SURVIVING append-chain version
        # still references (vacuum of a non-self-contained head must not
        # destroy its base data); the survivors' extends closures pin them
        doomed_set = set(doomed)
        needed: set[str] = set()
        for v in rec.versions:
            if v.version not in doomed_set:
                needed |= self._extends_closure(rec, v) - {v.version}
        doomed = [d for d in doomed if d not in needed]
        if not dry_run:
            for version in doomed:
                self.delete_dataset(name, version=version)
            if gc_indexes and doomed:
                self._gc_index_versions(name, set(doomed))
        return doomed

    #: per-version index datasets and the attr linking them to their
    #: source data version — profiles are EXCLUDED on purpose (see
    #: vacuum_dataset: sketch state outlives the data it profiles)
    _INDEX_SUFFIXES = (
        ("__zones", "zones_of_version"),
        ("__ivf", "ivf_of_version"),
        ("__ivf_centroids", "ivf_of_version"),
        ("__bm25", "bm25_of_version"),
        ("__bm25_docs", "bm25_of_version"),
        ("__grams", "grams_of_version"),
        ("__grams_docs", "grams_of_version"),
    )

    def _gc_index_versions(self, name: str, removed: set) -> None:
        for suffix, key in self._INDEX_SUFFIXES:
            sns, sproj, sbase = split_name(f"{name}{suffix}")
            rec = self._read_record(sns, sproj, sbase)
            if rec is None:
                continue
            for v in list(rec.versions):
                if v.attrs.get(key) in removed:
                    self.delete_dataset(f"{name}{suffix}", version=v.version)

    def _drop_bucket_tables(self, versions: list[DatasetVersion]) -> None:
        """Best-effort catalog cleanup for bucketed versions (the files go
        with the data dir; the table entry must not dangle)."""
        spark = SparkSession.getActiveSession()
        if spark is None:
            return
        for v in versions:
            if v.bucket:
                try:
                    spark.sql(f"DROP TABLE IF EXISTS {v.bucket['table']}")
                except Exception:
                    pass

    def move_dataset(self, src: str, dst: str) -> None:
        """Parity: move_dataset (lib/dc/datasets.py:303-430)."""
        sns, sproj, sbase = split_name(src)
        dns, dproj, dbase = split_name(dst)
        rec = self._read_record(sns, sproj, sbase)
        if rec is None:
            raise DatasetNotFoundError(f"dataset not found: {src}")
        src_dir = self._ds_dir(sns, sproj, sbase)
        dst_dir = self._ds_dir(dns, dproj, dbase)
        os.makedirs(os.path.dirname(dst_dir), exist_ok=True)
        shutil.move(src_dir, dst_dir)
        rec.namespace, rec.project, rec.name = dns, dproj, dbase
        self._write_record(rec)

    # -- namespaces / projects ------------------------------------------
    def create_namespace(self, name: str) -> str:
        """Parity: lib/namespaces.py create — idempotent mkdir."""
        path = os.path.join(self.root, name)
        os.makedirs(path, exist_ok=True)
        return path

    def create_project(self, namespace: str, name: str) -> str:
        """Parity: lib/projects.py create — idempotent, creates the
        namespace too."""
        path = os.path.join(self.root, namespace, name)
        os.makedirs(path, exist_ok=True)
        return path

    def list_namespaces(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    def delete_namespace(self, name: str) -> None:
        """Parity: lib/namespaces.py delete_namespace — refuses non-empty
        namespaces (any dataset manifest below it) and missing ones."""
        path = os.path.join(self.root, name)
        if not os.path.isdir(path):
            raise NamespaceNotFoundError(f"namespace not found: {name!r}")
        for rec in self.list_datasets():
            if rec.namespace == name:
                raise ValueError(
                    f"namespace {name!r} is not empty (dataset {rec.full_name})"
                )
        shutil.rmtree(path)
