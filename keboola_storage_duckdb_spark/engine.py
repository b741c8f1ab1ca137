"""StorageEngine: the ProjectDBManager-shaped service API (SURVEY §2.13).

One class whose methods mirror the reference's 26 gRPC handlers + REST-only
operations (snapshots, branches, profile), implemented entirely on
DataFrame/Spark SQL over a parquet warehouse. Method-by-method citations
point at the reference implementation being re-expressed.

Design stance (SURVEY §7):
  * storage = parquet dir per table + JSON meta (Delta would add OCC/time
    travel; plain parquet keeps the container dependency-free and mirrors
    the reference's file-per-table model);
  * PK is metadata — enforced by precheck joins / window dedup, not
    constraints (Spark has none);
  * every write is staged then swapped under the per-table lock (the
    reference's `_staging/{uuid}` discipline);
  * reads hand back lazy DataFrames with the declared schema — operators
    compose onto the scan so Catalyst pushes filters/projections into
    parquet.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import types
import uuid
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog.catalog import (
    AlreadyExistsError,
    CatalogError,
    NotFoundError,
    StorageCatalog,
    TableMeta,
)
from .catalog.types import duckdb_to_spark_type, struct_from_columns
from .operators import dedup as KD
from .operators import filters as KF
from .operators.profile import profile_table

TIMESTAMP_COL = "_timestamp"  # system column (reference import_export.py:300-312)
# Engine-managed columns a table carries beyond the user's schema — the
# set snapshot_diff treats as non-data (a USER column merely named with a
# leading underscore is still data; ADVICE r9).
SYSTEM_COLS = frozenset({TIMESTAMP_COL})

# Arrow IPC wire format (reference ADR-011,
# docs/adr/011-apache-arrow-integration.md:113)
ARROW_MIME = "application/vnd.apache.arrow.stream"

# read size of the backwards operations-log tail read
_OPS_TAIL_BLOCK = 64 * 1024


def df_to_arrow_ipc(df: DataFrame) -> tuple[bytes, str, int]:
    """Serialize a (bounded!) DataFrame to an Arrow IPC stream via Spark's
    native Arrow collect path (``df.toArrow()`` — Arrow batches travel
    from executors without ever materializing Python Row objects).
    Returns (ipc_bytes, schema_string, row_count). Callers must bound the
    frame (limit / max_rows) first — this is an API-edge serializer, not
    a data-export path (exports write distributed parquet/csv)."""
    import pyarrow as pa

    tbl = df.toArrow()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as writer:
        writer.write_table(tbl)
    return sink.getvalue().to_pybytes(), str(tbl.schema), tbl.num_rows


class _ViewLayer:
    """One cached layer of SQL temp views: project tables or workspace
    objects. Temp views live in ONE namespace per SparkSession, shared by
    every engine and thread on it, so a layer holds only its most recent
    registrant: the key, the catalog generation the set was built at, and
    the names it defined."""

    def __init__(self) -> None:
        self.key = None
        self.gen = None
        self.names: list[str] = []

    def refresh(self, spark: SparkSession, key, gen: int, build,
                keep: frozenset = frozenset()) -> bool:
        """Make ``key`` at ``gen`` the registered set unless it already is.
        ``build()`` yields (name, DataFrame) pairs; a name the previous
        registrant defined and the new set does not is dropped, unless
        another layer owns it (``keep``). A failing ``build`` leaves both
        the namespace and this layer as they were. Returns whether the set
        was rebuilt."""
        if self.key == key and self.gen == gen:
            return False
        views = dict(build())
        for name, df in views.items():
            df.createOrReplaceTempView(name)
        for name in set(self.names) - views.keys() - keep:
            spark.catalog.dropTempView(name)
        self.key, self.gen, self.names = key, gen, list(views)
        return True


_VIEWS_ATTACH_LOCK = threading.Lock()


def _view_namespace(spark: SparkSession):
    """The view layers of ``spark``'s temp-view namespace, with the lock
    that makes registration + analysis atomic across threads and
    engines."""
    with _VIEWS_ATTACH_LOCK:
        ns = getattr(spark, "_storage_views", None)
        if ns is None:
            ns = spark._storage_views = types.SimpleNamespace(
                lock=threading.RLock(), project=_ViewLayer(),
                workspace=_ViewLayer())
    return ns


class StorageEngine:
    def __init__(self, spark: SparkSession, warehouse: str) -> None:
        self.spark = spark
        self.catalog = StorageCatalog(warehouse)
        self._ops_log_path = os.path.join(self.catalog.warehouse, "_ops.jsonl")
        self._ops_lock = threading.Lock()
        self._files = None
        # monotone catalog generation: bumped by every logged operation
        # (all mutations log) — view-registration caching keys off it
        self._generation = 0
        self._views = _view_namespace(spark)
        # view-layer keys carry this token: generations of two engines on
        # one session are not comparable
        self._views_owner = object()

    @property
    def files(self):
        """File staging store rooted inside the warehouse (`_files/`) — the
        reference's files API (src/routers/files.py:98-360) whose registered
        file ids feed table imports (src/routers/table_import.py:286-361)."""
        if self._files is None:
            from .service.files import FileStore
            self._files = FileStore(os.path.join(self.catalog.warehouse,
                                                 "_files"))
        return self._files

    # ------------------------------------------------------------------ log
    def _log(self, op: str, **detail) -> None:
        """Operations log (reference operations_log table,
        src/database.py:172-417)."""
        rec = {"op": op, "ts": time.time(), **detail}
        with self._ops_lock, open(self._ops_log_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
            self._generation += 1

    # -------------------------------------------------- projects / buckets
    def create_project(self, project: str) -> None:
        self.catalog.create_project(project)
        self._log("create_project", project=project)

    def drop_project(self, project: str) -> None:
        self.catalog.drop_project(project)
        self._log("drop_project", project=project)

    def create_bucket(self, project: str, bucket: str) -> None:
        self.catalog.create_bucket(project, bucket)
        self._log("create_bucket", project=project, bucket=bucket)

    def drop_bucket(self, project: str, bucket: str, force: bool = False) -> None:
        self.catalog.drop_bucket(project, bucket, force=force)
        self._log("drop_bucket", project=project, bucket=bucket)

    # --------------------------------------------------------- tables (D1/D2)
    def create_table(self, project: str, bucket: str, table: str,
                     columns: list[dict], primary_key: list[str] | None = None,
                     storage_format: str = "parquet") -> dict:
        """D1: CREATE TABLE from {name,type,nullable,default} dicts
        (reference src/database.py:4322-4393). The system _timestamp column
        is appended automatically. ``storage_format="versioned"`` opts the
        table into the commit-log backend (OCC + time travel,
        backends/versioned.py); default is plain stage-and-swap Parquet."""
        if self.catalog.table_exists(project, bucket, table):
            raise AlreadyExistsError(f"table {table} exists")
        if not os.path.isdir(self.catalog.bucket_dir(project, bucket)):
            raise NotFoundError(f"bucket {bucket} not found")
        if storage_format not in ("parquet", "versioned"):
            raise CatalogError(f"unknown storage_format {storage_format!r}")
        pk = primary_key or []
        colnames = {c["name"] for c in columns}
        for k in pk:
            if k not in colnames:
                raise CatalogError(f"primary key column {k} not in schema")
        struct_from_columns(columns)  # validates the type strings
        meta = TableMeta(columns=columns, primary_key=pk, created_at=time.time())
        if storage_format != "parquet":
            meta.properties["storage_format"] = storage_format
        self.catalog.write_meta(project, bucket, table, meta)
        os.makedirs(self.catalog.data_dir(project, bucket, table), exist_ok=True)
        self._log("create_table", project=project, bucket=bucket, table=table)
        return {"table": table, "columns": columns, "primary_key": pk,
                "storage_format": storage_format}

    def drop_table(self, project: str, bucket: str, table: str) -> None:
        with self.catalog.acquire(project, bucket, table):
            self.catalog.drop_table(project, bucket, table)
        self._log("drop_table", project=project, bucket=bucket, table=table)

    def _schema(self, meta: TableMeta, with_system: bool = True) -> T.StructType:
        st = struct_from_columns(meta.columns)
        if with_system:
            st = T.StructType(list(st.fields)
                              + [T.StructField(TIMESTAMP_COL, T.TimestampType())])
        return st

    def _resolve_link(self, project: str, bucket: str) -> tuple[str, str]:
        """Linked-bucket indirection (Share/Link Bucket handlers): a bucket
        directory containing .link.json reads from its source bucket."""
        link = os.path.join(self.catalog.bucket_dir(project, bucket), ".link.json")
        if os.path.isfile(link):
            with open(link) as f:
                d = json.load(f)
            return d["project"], d["bucket"]
        return project, bucket

    @staticmethod
    def _versioned(meta) -> bool:
        return meta.properties.get("storage_format") == "versioned"

    def _version_log(self, project: str, bucket: str, table: str,
                     branch: str | None = None):
        from .backends.versioned import VersionLog
        return VersionLog(self.catalog.table_dir(project, bucket, table,
                                                 branch))

    def read_table(self, project: str, bucket: str, table: str,
                   branch: str | None = None,
                   version: int | None = None) -> DataFrame:
        """Lazy scan with the declared schema (+ _timestamp). Branch reads
        resolve branch-copy-else-main (src/database.py:3082-3133). For a
        versioned table, ``version`` pins a commit-log snapshot (time
        travel); default is the latest commit."""
        project, bucket = self._resolve_link(project, bucket)
        src, data_dir = self.catalog.resolve_table(project, bucket, table, branch)
        meta = self.catalog.read_meta(
            project, bucket, table, branch if src == "branch" else None)
        if self._versioned(meta):
            # branch copies carry a shallow-cloned commit log (CoW), so
            # time travel works on both main and branch reads
            log = self._version_log(project, bucket, table,
                                    branch if src == "branch" else None)
            d = log.data_dir(version)
            if d is not None:
                data_dir = d
        elif version is not None:
            raise CatalogError("version= requires a versioned-format table")
        df = self.spark.read.schema(self._schema(meta)).parquet(data_dir)
        if meta.properties.get("hash_bucket_by") and "__bucket" in df.columns:
            # the bucket id is internal layout state (PK-derived, always
            # recomputable) — never part of the table's surface
            df = df.drop("__bucket")
        return df

    def table_info(self, project: str, bucket: str, table: str,
                   branch: str | None = None) -> dict:
        """ObjectInfo/introspection (D8): schema + PK + row count."""
        project, bucket = self._resolve_link(project, bucket)
        src, _ = self.catalog.resolve_table(project, bucket, table, branch)
        meta = self.catalog.read_meta(
            project, bucket, table, branch if src == "branch" else None)
        return {
            "project": project, "bucket": bucket, "table": table,
            "source": src,
            "columns": meta.columns, "primary_key": meta.primary_key,
            "row_count": self.read_table(project, bucket, table, branch).count(),
        }

    @staticmethod
    def _bucket_expr(cols: list[str], n: int):
        """Deterministic bucket id of the given columns: non-negative
        xxhash64 mod n. PK-derived when ``cols ⊆ PK`` — then a key's
        bucket never changes, which is what makes bucketed merges
        touch only staged buckets."""
        return F.pmod(F.xxhash64(*[F.col(c) for c in cols]),
                      F.lit(n)).cast("int")

    def optimize_table(self, project: str, bucket: str, table: str,
                       partition_by: list[str] | None = None,
                       target_files: int | None = None,
                       cluster_by: list[str] | None = None,
                       bloom_filter_columns: list[str] | None = None,
                       hash_bucket_by: list[str] | None = None,
                       n_hash_buckets: int = 16,
                       zorder_by: list[str] | None = None,
                       ) -> dict:
        """Compaction / re-layout (beyond-reference — the warehouse-health
        op a 100 TB deployment runs continuously): rewrite the table,
        optionally hive-partitioned by low-cardinality columns (reads then
        get partition *pruning* at the scan, the cheapest possible skip) and
        repartitioned to a target file count (small-file compaction after
        many incremental imports). Atomic via the same stage-and-swap path
        as every other write.

        ``bloom_filter_columns`` writes parquet bloom filters for the
        given columns (``parquet.bloom.filter.enabled#col``) — point
        lookups on high-cardinality, non-clustered columns then skip row
        groups that provably lack the value, the complement of min/max
        skipping for unsorted keys.

        ``cluster_by`` sort-clusters rows (range-partition across files +
        sortWithinPartitions inside them) on the given columns so parquet
        row-group min/max statistics become selective — point/range
        filters on the cluster columns then skip most row groups at the
        scan (the Z-order/liquid-clustering trade made with a single sort
        key order). Composable with ``partition_by`` (clustering applies
        within each hive partition) and ``target_files``.

        ``hash_bucket_by`` (r12) lays the table out in ``n_hash_buckets``
        hash buckets of the given columns (internal ``__bucket=k`` hive
        dirs, hidden from reads). When the columns are the PK, every
        incremental import/delete becomes a BUCKET-SCOPED merge: a key's
        bucket never changes, so only the buckets of staged keys are
        read, merged and swapped — at 100 TB an upsert of B buckets
        costs O(B/n of the table), not a full-table join, and the
        fail_on_duplicates precheck prunes the same way. The Spark-
        native answer to bucketed tables without a metastore.

        ``zorder_by`` (r12) sort-clusters on the Morton interleave of
        exactly TWO integer-castable columns (OPTIMIZE ZORDER): files
        cover disjoint Z-key ranges, so row-group min/max stats become
        selective on BOTH dimensions (~1/√files span each) instead of
        one — the multi-predicate data-skipping trade
        ``functions/layout.zorder_layout_frame`` quantifies before
        paying this rewrite. Exclusive with the other layouts."""
        if sum(map(bool, (hash_bucket_by, partition_by, zorder_by))) > 1 \
                or (cluster_by and (zorder_by or hash_bucket_by)):
            # hash_bucket_by+cluster_by included (ADVICE r12): the elif
            # chain never range-partitions on the cluster key under a
            # bucket layout, so accepting it would record a clustering
            # in meta.properties the files don't have
            raise CatalogError(
                "partition_by / hash_bucket_by / zorder_by / "
                "cluster_by+{zorder_by,hash_bucket_by} are exclusive "
                "layouts")
        if zorder_by and len(zorder_by) != 2:
            raise CatalogError("zorder_by takes exactly two columns")
        with self.catalog.acquire(project, bucket, table):
            df = self.read_table(project, bucket, table)
            if partition_by:
                # Hive encoding folds NULL and '' into the default partition
                # (read back as NULL) — refuse rather than silently mutate.
                bad = df.filter(
                    " OR ".join(f"(`{c}` IS NULL OR `{c}` = '')"
                                if dict(df.dtypes).get(c) == "string"
                                else f"(`{c}` IS NULL)"
                                for c in partition_by)).limit(1).count()
                if bad:
                    raise CatalogError(
                        "partition columns must be non-null (and non-empty "
                        "for strings); hive layout cannot represent them")
            out = df
            if zorder_by:
                from .functions.layout import zorder_key_expr
                missing = [c for c in zorder_by if c not in df.columns]
                if missing:
                    raise CatalogError(
                        f"zorder_by columns not in table: {missing}")
                xc, yc = zorder_by
                zb = df.select(F.col(xc).cast("long").alias("x"),
                               F.col(yc).cast("long").alias("y"))
                lims = zb.agg(F.min("x"), F.max("x"),
                              F.min("y"), F.max("y")).collect()[0]
                if any(v is None for v in lims):
                    raise CatalogError(
                        "zorder_by columns must be non-null int-castable")
                zkey = zorder_key_expr(
                    f"CAST(`{xc}` AS BIGINT)", f"CAST(`{yc}` AS BIGINT)",
                    int(lims[0]), int(lims[1] - lims[0]),
                    int(lims[2]), int(lims[3] - lims[2]))
                nf = int(target_files or 16)
                out = (df.withColumn("__zkey", zkey)
                         .repartitionByRange(nf, "__zkey")
                         .sortWithinPartitions("__zkey")
                         .drop("__zkey"))
            elif hash_bucket_by:
                missing = [c for c in hash_bucket_by if c not in df.columns]
                if missing:
                    raise CatalogError(
                        f"hash_bucket_by columns not in table: {missing}")
                out = (df.withColumn("__bucket",
                                     self._bucket_expr(hash_bucket_by,
                                                       n_hash_buckets))
                         .repartition(int(n_hash_buckets),
                                      "__bucket"))   # ~1 file per bucket
            elif cluster_by and target_files and not partition_by:
                # one shuffle: range-partition on the cluster key so files
                # cover disjoint key ranges, then sort inside each file
                out = df.repartitionByRange(target_files,
                                            *[F.col(c) for c in cluster_by])
            elif target_files:
                out = (df.repartition(target_files, *partition_by)
                       if partition_by else df.repartition(target_files))
            if cluster_by:
                out = out.sortWithinPartitions(*[F.col(c)
                                                 for c in cluster_by])
            meta0 = self.catalog.read_meta(project, bucket, table, None)
            log = (self._version_log(project, bucket, table)
                   if self._versioned(meta0) else None)
            staged = (log.staging_dir() if log is not None
                      else self.catalog.staging_data_dir(project, bucket,
                                                         table, None))
            writer = out.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            elif hash_bucket_by:
                writer = writer.partitionBy("__bucket")
            for c in (bloom_filter_columns or []):
                writer = writer.option(f"parquet.bloom.filter.enabled#{c}",
                                       "true")
            writer.parquet(staged)
            if log is not None:
                log.commit(staged, "optimize")
            else:
                self.catalog.swap_data_dir(project, bucket, table, staged, None)
            meta = self.catalog.read_meta(project, bucket, table, None)
            meta.properties["partition_by"] = list(partition_by or [])
            meta.properties["cluster_by"] = list(cluster_by or [])
            meta.properties["bloom_filter_columns"] = list(
                bloom_filter_columns or [])
            meta.properties["hash_bucket_by"] = list(hash_bucket_by or [])
            meta.properties["n_hash_buckets"] = (
                int(n_hash_buckets) if hash_bucket_by else None)
            meta.properties["zorder_by"] = list(zorder_by or [])
            self.catalog.write_meta(project, bucket, table, meta)
        self._log("optimize_table", project=project, bucket=bucket,
                  table=table, partition_by=partition_by or [],
                  cluster_by=cluster_by or [],
                  hash_bucket_by=hash_bucket_by or [])
        return {"partition_by": partition_by or [],
                "cluster_by": cluster_by or [],
                "bloom_filter_columns": bloom_filter_columns or [],
                "hash_bucket_by": hash_bucket_by or [],
                "n_hash_buckets": (int(n_hash_buckets)
                                   if hash_bucket_by else None),
                "zorder_by": zorder_by or [],
                "target_files": target_files}

    # ---------------------------------------------- vector indexes (ANN)
    # Beyond-reference: the persisted ANN index family
    # (functions/ann_index.py — FAISS train/add/search lifecycle) exposed
    # as first-class storage objects on a table's vector column, the way
    # a production vector store attaches indexes to collections. Indexes
    # live under warehouse/_indexes/<project>/<bucket>/<table>/<name>
    # (outside the table's data dir — a table rewrite never clobbers
    # them) and record the row count they were built from, so staleness
    # after imports/deletes is visible in index_info.

    _INDEX_NAME_RE = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9_-]{0,63}$")

    def _index_path(self, project: str, bucket: str, table: str,
                    name: str, must_exist: bool = False) -> str:
        if not self._INDEX_NAME_RE.match(name or ""):
            raise CatalogError(f"invalid index name: {name!r}")
        p = os.path.join(self.catalog.warehouse, "_indexes", project,
                         bucket, table, name)
        if must_exist and not os.path.exists(os.path.join(p, "meta.json")):
            raise NotFoundError(f"index {name} not found on {table}")
        return p

    def create_index(self, project: str, bucket: str, table: str,
                     name: str, id_column: str,
                     vector_column: str | None = None,
                     kind: str = "pq", label_column: str | None = None,
                     m: int = 4, ksub: int = 8, dim: int = 64,
                     text_column: str | None = None,
                     n_hashes: int = 12, band_size: int = 4,
                     n_clusters: int = 4, rounds: int = 2,
                     threshold: float = 0.9) -> dict:
        """Build a persisted index over a table column: ``kind="pq"``
        (ANN over ``vector_column``, optionally IVF-labeled by
        ``label_column`` — posting lists as parquet partitions, nprobe
        routing at search), ``kind="sq8"`` (per-dim scalar grid,
        near-exact), ``kind="minhash"`` (near-dup DEDUP index over
        ``text_column`` — stored LSH buckets + shingle sets; query via
        ``dedup_check``), or ``kind="semdedup"`` (SEMANTIC dedup index
        over ``vector_column`` — k-means-blocked survivor lists +
        frozen centroids; ``dedup_check`` with vectors answers
        ingestion-time keep/drop at the stored ``threshold``). The
        build is atomic (staging swap) and runs under the table lock;
        main branch only (indexes are serving artifacts, not CoW
        state)."""
        from .functions import ann_index as AI

        path = self._index_path(project, bucket, table, name)
        if os.path.exists(path):
            raise AlreadyExistsError(f"index {name} exists on {table}")
        df = self.read_table(project, bucket, table)
        data_col = text_column if kind in ("minhash", "bpe") \
            else vector_column
        if data_col is None:
            raise CatalogError(
                f"text_column is required for kind={kind}" if
                kind in ("minhash", "bpe") else
                "vector_column is required")
        # a tokenizer trains on text alone — no id/key involved
        need = ([id_column] if kind != "bpe" else []) + [data_col] + (
            [label_column] if label_column else [])
        missing = [c for c in need if c not in df.columns]
        if missing:
            raise CatalogError(f"columns not in table: {missing}")
        with self.catalog.acquire(project, bucket, table):
            rows = df.count()
            if kind == "sq8":
                if label_column:
                    raise CatalogError(
                        "sq8 indexes have no IVF labels — use kind=pq")
                meta = AI.sq8_index_build(df, id_column, vector_column,
                                          path, dim=dim).meta
            elif kind == "pq":
                meta = AI.pq_index_build(df, id_column, vector_column,
                                         path, label_col=label_column,
                                         m=m, ksub=ksub, dim=dim).meta
            elif kind == "minhash":
                from .functions import dedup_ml as DM
                if label_column:
                    raise CatalogError("minhash indexes have no labels")
                meta = DM.minhash_index_build(
                    df, id_column, text_column, path,
                    n_hashes=n_hashes, band_size=band_size)
            elif kind == "semdedup":
                from .functions import clustering as CL
                if label_column:
                    raise CatalogError("semdedup indexes learn their "
                                       "clusters — no label_column")
                if n_clusters < 1:
                    raise CatalogError("n_clusters must be >= 1")
                if rounds < 1:
                    raise CatalogError("rounds must be >= 1")
                if not (-1.0 <= float(threshold) <= 1.0):
                    raise CatalogError(
                        "threshold must be a cosine in [-1, 1]")
                meta = CL.semdedup_index_build(
                    df, id_column, vector_column, path, k=n_clusters,
                    rounds=rounds, threshold=float(threshold))
            elif kind == "bpe":
                from .functions import bpe as BP
                if label_column:
                    raise CatalogError("bpe tokenizers have no labels")
                if rounds < 1:
                    raise CatalogError("rounds must be >= 1")
                meta = BP.bpe_index_build(df, text_column, path,
                                          rounds=rounds)
            else:
                raise CatalogError(f"unknown index kind: {kind!r} "
                                   "(pq | sq8 | minhash | semdedup | "
                                   "bpe)")
            meta.update({"index_name": name,
                         "index_kind": kind,
                         "id_column": id_column,
                         "vector_column": vector_column,
                         "text_column": text_column,
                         "built_rows": rows,
                         "built_at": time.time()})
            AI._write_meta(path, meta)
        self._log("create_index", project=project, bucket=bucket,
                  table=table, name=name, kind=kind)
        return self.index_info(project, bucket, table, name)

    def list_indexes(self, project: str, bucket: str,
                     table: str) -> list[dict]:
        root = os.path.join(self.catalog.warehouse, "_indexes", project,
                            bucket, table)
        try:
            names = sorted(
                n for n in os.listdir(root)
                if os.path.exists(os.path.join(root, n, "meta.json")))
        except OSError:
            names = []
        return [self.index_info(project, bucket, table, n) for n in names]

    def index_info(self, project: str, bucket: str, table: str,
                   name: str, recommend: bool = False) -> dict:
        """Metadata + live posting stats + staleness: an index built
        from N rows over a table that now holds M ≠ N is flagged stale
        (imports/deletes happened since; rebuild or add/delete through
        the functions API).

        ``recommend=True`` (r13, VERDICT r12 #5) additionally composes
        the three governance signals (imbalance, centroid drift,
        quantization distortion) into a ``recommendation`` verdict for
        labeled PQ indexes — the scheduled read that decides when churn
        warrants a re-train (add/delete/refresh never retrain)."""
        from .functions import ann_index as AI

        path = self._index_path(project, bucket, table, name,
                                must_exist=True)
        idx = AI.pq_index_load(self.spark, path)
        kind = idx.meta.get("index_kind", idx.meta.get("kind", "pq"))
        if kind == "minhash":
            n_rows = self.spark.read.parquet(
                os.path.join(path, "shingles")).count()
        elif kind == "semdedup":
            # n_vectors = the SURVIVORS the index serves against;
            # staleness still compares built_rows (everything processed)
            n_rows = self.spark.read.parquet(
                os.path.join(path, "survivors")).count()
        elif kind == "bpe":
            # n_vectors = cached vocabulary size (the serving cache;
            # the tokenizer itself is the frozen merge list in meta)
            n_rows = self.spark.read.parquet(
                os.path.join(path, "vocab")).count()
        else:
            n_rows = idx.codes(self.spark).count()
        tbl_df = self.read_table(project, bucket, table)
        current = tbl_df.count()
        info = {"name": name,
                "kind": kind,
                "id_column": idx.meta.get("id_column"),
                "vector_column": idx.meta.get("vector_column"),
                "text_column": idx.meta.get("text_column"),
                "label_column": idx.meta.get("label_col"),
                "dim": idx.meta.get("dim"),
                "threshold": idx.meta.get("threshold"),
                "n_vectors": n_rows,
                "built_rows": idx.meta.get("built_rows"),
                "table_rows": current,
                "stale": (idx.meta.get("built_rows") is not None
                          and current != idx.meta.get("built_rows"))}
        if kind == "bpe":
            info["n_merges"] = idx.meta.get("n_merges")
            info["rounds"] = idx.meta.get("rounds")
        if idx.meta.get("label_col"):
            r = AI.ivf_list_stats(self.spark, idx).collect()[0]
            info["n_lists"] = r["n_lists"]
            info["imbalance"] = r["imbalance"]
            if recommend and kind == "pq":
                info["recommendation"] = AI.rebuild_recommendation(
                    self.spark, idx, tbl_df, idx.meta["id_column"],
                    idx.meta["vector_column"], idx.meta["label_col"])
        return info

    def drop_index(self, project: str, bucket: str, table: str,
                   name: str) -> dict:
        path = self._index_path(project, bucket, table, name,
                                must_exist=True)
        with self.catalog.acquire(project, bucket, table):
            shutil.rmtree(path, ignore_errors=True)
        self._log("drop_index", project=project, bucket=bucket,
                  table=table, name=name)
        return {"dropped": name}

    def refresh_index(self, project: str, bucket: str, table: str,
                      name: str) -> dict:
        """Incrementally reconcile a stale index with its table — the
        production sync after imports/deletes, WITHOUT retraining
        (codebooks/grids are training state and stay frozen; FAISS
        add/remove_ids semantics): rows in the table but not in the
        postings are encoded and appended (``pq_index_add`` for PQ,
        frozen-grid encode for SQ8), posted ids no longer in the table
        are deleted (``pq_index_delete`` — only affected lists
        rewritten). Both deltas are anti-joins on the id column; a
        refresh of an in-sync index touches nothing. Re-stamps
        built_rows so the staleness flag clears."""
        from .functions import ann_index as AI

        path = self._index_path(project, bucket, table, name,
                                must_exist=True)
        with self.catalog.acquire(project, bucket, table):
            idx = AI.pq_index_load(self.spark, path)
            if idx.meta.get("index_kind") == "minhash":
                return self._refresh_minhash_index(project, bucket,
                                                   table, name, path,
                                                   idx.meta)
            if idx.meta.get("index_kind") == "semdedup":
                return self._refresh_semdedup_index(project, bucket,
                                                    table, name, path,
                                                    idx.meta)
            if idx.meta.get("index_kind") == "bpe":
                return self._refresh_bpe_index(project, bucket, table,
                                               name, path, idx.meta)
            id_col = idx.meta["id_column"]
            vec_col = idx.meta["vector_column"]
            df = self.read_table(project, bucket, table)
            posted = idx.codes(self.spark).select(
                F.col("id").alias(id_col))
            new_rows = df.join(posted, id_col, "left_anti")
            # EAGER checkpoint (ADVICE r12 high): the gone-set plan reads
            # the index's own codes parquet, and pq_index_delete rewrites
            # those files per-leaf — a lazy frame re-evaluated after the
            # first leaf swap reads already-deleted files
            # (FAILED_READ_FILE when deleted ids span >=2 posting lists).
            # Same hazard _refresh_minhash_index already guards against.
            gone = (posted.join(df.select(id_col), id_col, "left_anti")
                          .localCheckpoint())
            # count BEFORE the append for the same reason: new_rows'
            # plan anti-joins against the codes scan the add mutates
            added = new_rows.count()
            if added:
                kind = idx.meta.get("index_kind",
                                    idx.meta.get("kind", "pq"))
                if kind == "sq8":
                    from .functions.similarity import sq8_encode
                    (sq8_encode(new_rows, id_col, vec_col,
                                dim=idx.meta["dim"],
                                trained=(idx.meta["lo"], idx.meta["hi"]))
                     .write.mode("append")
                     .parquet(os.path.join(path, "codes")))
                else:
                    AI.pq_index_add(self.spark, path, new_rows, id_col,
                                    vec_col)
            report = AI.pq_index_delete(
                self.spark, path, gone.withColumnRenamed(id_col, "id"))
            rows = df.count()
            idx.meta["built_rows"] = rows
            AI._write_meta(path, idx.meta)
        self._log("refresh_index", project=project, bucket=bucket,
                  table=table, name=name, added=added,
                  deleted=report["deleted"])
        return {"added": added, "deleted": report["deleted"],
                "table_rows": rows, "stale": False}

    def _refresh_minhash_index(self, project: str, bucket: str,
                               table: str, name: str, path: str,
                               meta: dict) -> dict:
        """Minhash-kind refresh (caller holds the table lock): new rows
        shingle/band against the FROZEN permutations and append; rows
        gone from the table rewrite both artifact tables filtered
        (atomic staging swap each — dedup state has no per-list layout
        to scope the rewrite to)."""
        from .functions import ann_index as AI
        from .functions import dedup_ml as DM

        id_col, text_col = meta["id_column"], meta["text_column"]
        df = self.read_table(project, bucket, table)
        sh_dir = os.path.join(path, "shingles")
        posted = (self.spark.read.parquet(sh_dir)
                      .select(F.col("id").alias(id_col)))
        new_rows = df.join(posted, id_col, "left_anti")
        # EAGER checkpoint: the gone-set plan reads the shingles files,
        # and the second artifact rewrite below consumes it AFTER the
        # first swap deleted those files — materialize it first
        gone = (posted.join(df.select(id_col), id_col, "left_anti")
                      .localCheckpoint())
        added = 0
        if not new_rows.isEmpty():
            DM.minhash_index_add(self.spark, path, new_rows, id_col,
                                 text_col)
            added = new_rows.count()
        deleted = gone.count()
        if deleted:
            keep = F.broadcast(gone.withColumnRenamed(id_col, "id"))
            for art in ("shingles", "buckets"):
                d = os.path.join(path, art)
                staging = AI._make_staging(d, work_dir=path)
                (self.spark.read.parquet(d).join(keep, "id", "left_anti")
                     .write.mode("overwrite").parquet(staging))
                AI._publish(staging, d, work_dir=path)
                self.spark.catalog.refreshByPath(d)
        rows = df.count()
        meta["built_rows"] = rows
        AI._write_meta(path, meta)
        self._log("refresh_index", project=project, bucket=bucket,
                  table=table, name=name, added=added, deleted=deleted)
        return {"added": added, "deleted": deleted,
                "table_rows": rows, "stale": False}

    def _refresh_bpe_index(self, project: str, bucket: str, table: str,
                           name: str, path: str, meta: dict) -> dict:
        """Bpe-kind refresh (caller holds the table lock): the MERGES
        never change — a tokenizer is a frozen artifact by contract
        (retraining is ``rebuild_index``, a deliberate version bump).
        Refresh only extends the vocab/ serving cache: words the current
        table contains that the cache has never tokenized get their
        sequences under the stored merges and append (with their current
        corpus frequency). Stale cache entries for vanished words are
        harmless (it is a cache keyed by word, not corpus state) and are
        kept; ``built_rows`` resyncs so staleness clears."""
        import os

        from .functions import ann_index as AI
        from .functions import bpe as BP

        text_col = meta["text_column"]
        df = self.read_table(project, bucket, table)
        stored = self.spark.read.parquet(os.path.join(path, "vocab"))
        freqs = BP.word_frequencies(df, text_col)
        new_words = freqs.join(stored.select("word"), "word",
                               "left_anti").localCheckpoint()
        added = new_words.count()
        if added:
            merges = [tuple(m) for m in meta["merges"]]
            seqs = BP.apply_merges_to_words(
                new_words.select("word"), merges)
            (new_words.join(seqs, "word")
                      .select("word", "freq", "seq")
                      .write.mode("append")
                      .parquet(os.path.join(path, "vocab")))
        rows = df.count()
        meta["built_rows"] = rows
        AI._write_meta(path, meta)
        self._log("refresh_index", project=project, bucket=bucket,
                  table=table, name=name, added=added, deleted=0)
        return {"added": added, "deleted": 0,
                "table_rows": rows, "stale": False}

    def _refresh_semdedup_index(self, project: str, bucket: str,
                                table: str, name: str, path: str,
                                meta: dict) -> dict:
        """Semdedup-kind refresh (caller holds the table lock): rows
        the index never PROCESSED (anti-join vs the seen/ artifact —
        the dropped fraction is never re-scored) get the incremental
        verdict under the FROZEN centroids and their keepers append;
        seen/survivor ids gone from the table rewrite both artifacts
        filtered (staging swap).

        Reconciliation is BY ID ONLY (the minhash discipline): a
        delete + re-import of the same id BETWEEN two refreshes is
        invisible — the id never leaves seen/, so the re-imported row
        (even with a changed vector) is not re-scored and a stored
        survivor keeps serving its old vector. Re-checking a reused id
        requires a refresh to run while the id is absent (it then lands
        in ``gone`` and the next refresh scores the new row)."""
        from .functions import ann_index as AI
        from .functions import clustering as CL

        id_col, vec_col = meta["id_column"], meta["vector_column"]
        df = self.read_table(project, bucket, table)
        seen_dir = os.path.join(path, "seen")
        seen = (self.spark.read.parquet(seen_dir)
                    .select(F.col("id").alias(id_col)))
        new_rows = df.join(seen, id_col, "left_anti")
        # EAGER checkpoint before the artifact rewrites below (the
        # minhash-refresh file-deletion hazard)
        gone = (seen.join(df.select(id_col), id_col, "left_anti")
                    .localCheckpoint())
        added = processed = 0
        if not new_rows.isEmpty():
            verdict = CL.semdedup_index_add(self.spark, path, new_rows,
                                            id_col, vec_col)
            # "added" = rows that ENTERED the index (keepers), matching
            # the pq/sq8/minhash refresh semantics; "processed" = the
            # whole verdict-ed delta (dropped rows join seen/ only)
            processed = verdict.count()
            added = verdict.filter("keep").count()
        deleted = gone.count()
        if deleted:
            drop = F.broadcast(gone.withColumnRenamed(id_col, "id"))
            for art, part in (("survivors", "cluster"), ("seen", None)):
                d = os.path.join(path, art)
                staging = AI._make_staging(d, work_dir=path)
                kept = (self.spark.read.parquet(d)
                            .join(drop, "id", "left_anti"))
                w = kept.write.mode("overwrite")
                if part:
                    w = w.partitionBy(part)
                w.parquet(staging)
                AI._publish(staging, d, work_dir=path)
                self.spark.catalog.refreshByPath(d)
        rows = df.count()
        meta["built_rows"] = rows
        AI._write_meta(path, meta)
        self._log("refresh_index", project=project, bucket=bucket,
                  table=table, name=name, added=added,
                  processed=processed, deleted=deleted)
        return {"added": added, "processed": processed,
                "deleted": deleted, "table_rows": rows, "stale": False}

    def rebuild_index(self, project: str, bucket: str, table: str,
                      name: str, if_recommended: bool = False) -> dict:
        """Full re-train at the CURRENT corpus (VERDICT r13 #5 — the
        action that consumes ``rebuild_recommendation``): unlike
        ``refresh_index`` (frozen codebooks, add/delete deltas), a
        rebuild re-learns the training state — PQ codebooks + IVF
        centroids, the SQ8 grid, or the minhash artifacts — from the
        table as it stands, then atomically swaps the new index in
        (``_publish``: old artifacts renamed aside, readers never see
        the path absent, old dirs pruned after the swap).

        ``if_recommended=True`` gates the (expensive) re-train on the
        governance verdict: evaluate ``rebuild_recommendation`` first
        and return ``{"rebuilt": False, ...}`` untouched when the
        signals say the quantizer is still sound — the scheduled
        decision→action pairing the reference applies to its own
        maintenance surfaces (snapshot settings → auto-snapshot,
        reference src/database.py:1841-1991)."""
        from .functions import ann_index as AI

        path = self._index_path(project, bucket, table, name,
                                must_exist=True)
        with self.catalog.acquire(project, bucket, table):
            idx = AI.pq_index_load(self.spark, path)
            meta = dict(idx.meta)
            kind = meta.get("index_kind", meta.get("kind", "pq"))
            df = self.read_table(project, bucket, table)
            if if_recommended:
                if kind != "pq" or not meta.get("label_col"):
                    raise CatalogError(
                        "if_recommended needs a labeled pq index — the "
                        "only governed kind (imbalance/drift/distortion "
                        f"signals); this one is {kind!r}")
                rec = AI.rebuild_recommendation(
                    self.spark, idx, df, meta["id_column"],
                    meta["vector_column"], meta["label_col"])
                if not rec["recommend_rebuild"]:
                    self._log("rebuild_index_skipped", project=project,
                              bucket=bucket, table=table, name=name)
                    return {"rebuilt": False,
                            "reason": "not recommended",
                            "recommendation": rec}
            rows = df.count()
            if kind == "sq8":
                new_meta = AI.sq8_index_build(
                    df, meta["id_column"], meta["vector_column"], path,
                    dim=meta["dim"]).meta
            elif kind == "minhash":
                from .functions import dedup_ml as DM
                new_meta = DM.minhash_index_build(
                    df, meta["id_column"], meta["text_column"], path,
                    n_hashes=meta["n_hashes"],
                    band_size=meta["band_size"])
            elif kind == "semdedup":
                from .functions import clustering as CL
                new_meta = CL.semdedup_index_build(
                    df, meta["id_column"], meta["vector_column"], path,
                    k=meta["k"], rounds=meta["rounds"],
                    threshold=meta["threshold"])
            elif kind == "bpe":
                from .functions import bpe as BP
                new_meta = BP.bpe_index_build(
                    df, meta["text_column"], path,
                    rounds=meta["rounds"])
            else:
                new_meta = AI.pq_index_build(
                    df, meta["id_column"], meta["vector_column"], path,
                    label_col=meta.get("label_col"), m=meta["m"],
                    ksub=meta["ksub"], dim=meta["dim"]).meta
            new_meta.update({k: meta.get(k) for k in
                             ("index_name", "index_kind", "id_column",
                              "vector_column", "text_column")})
            new_meta.update({"built_rows": rows, "built_at": time.time()})
            AI._write_meta(path, new_meta)
        self._log("rebuild_index", project=project, bucket=bucket,
                  table=table, name=name, rows=rows)
        return {"rebuilt": True, "table_rows": rows, "stale": False}

    def dedup_check(self, project: str, bucket: str, table: str,
                    name: str, documents: list,
                    threshold: float | None = None,
                    max_documents: int = 1024) -> list[dict]:
        """Ingestion-time near-dup check against a DEDUP index. For a
        minhash index, each submitted ``{"id": ..., "text": ...}``
        reports which INDEXED docs it near-duplicates (exact Jaccard ≥
        threshold on word-bigram shingle sets, LSH-candidate-bounded).
        For a semdedup index, each submitted ``{"id": ...,
        "vector": [...]}`` gets the keep/drop verdict at the index's
        STORED threshold (``threshold`` here is the minhash knob; a
        semdedup index froze its threshold at build — the survivor set
        is only meaningful at that value). Submitted ids share the
        corpus id space — use ids not present in it (e.g. negative)
        for external documents."""
        from .functions import ann_index as AI
        from .functions import dedup_ml as DM

        path = self._index_path(project, bucket, table, name,
                                must_exist=True)
        meta = AI.pq_index_load(self.spark, path).meta
        kind = meta.get("index_kind")
        if kind not in ("minhash", "semdedup"):
            raise CatalogError(
                "dedup_check needs a minhash or semdedup index — this "
                f"one is {meta.get('index_kind', 'pq')!r}")
        if not documents:
            raise CatalogError("documents must be a non-empty list")
        if len(documents) > max_documents:
            raise CatalogError(
                f"document count {len(documents)} exceeds "
                f"{max_documents} — batch the requests")
        if kind == "semdedup":
            from .functions import clustering as CL
            if threshold is not None:
                raise CatalogError(
                    "semdedup verdicts are frozen at the build "
                    f"threshold ({meta['threshold']}) — the survivor "
                    "set is only meaningful at that value; omit "
                    "threshold (rebuild to change it)")
            dim = meta["dim"]
            try:
                ids = [d["id"] for d in documents]
                # int("3") is fine; int(3.7) would silently truncate —
                # reject non-integral values instead of masking a
                # caller bug (ADVICE r14)
                if any(isinstance(i, float) and not i.is_integer()
                       for i in ids):
                    raise CatalogError(
                        "document ids must be integral (a float id "
                        "would be silently truncated)")
                rows = [(int(d["id"]), [float(x) for x in d["vector"]])
                        for d in documents]
            except (TypeError, KeyError, ValueError):
                raise CatalogError(
                    "each document needs {'id': ..., 'vector': [...]}")
            if len({r[0] for r in rows}) != len(rows):
                raise CatalogError(
                    "duplicate document ids in one request — each id "
                    "gets ONE verdict; submit distinct ids")
            bad = [i for i, (_, v) in enumerate(rows) if len(v) != dim]
            if bad:
                raise CatalogError(
                    f"document {bad[0]}: vector has "
                    f"{len(rows[bad[0]][1])} dims, index expects {dim}")
            ddf = self.spark.createDataFrame(
                rows, "vec_id bigint, vector array<double>")
            out = CL.semdedup_index_query(self.spark, path, ddf,
                                          "vec_id", "vector")
            return [{"id": r.id, "cluster": r.cluster, "keep": r.keep}
                    for r in sorted(out.collect(), key=lambda r: r.id)]
        try:
            rows = [(int(d["id"]), str(d["text"])) for d in documents]
        except (TypeError, KeyError, ValueError):
            # ValueError too: int('abc') must be a 400, not a 500
            raise CatalogError(
                "each document needs {'id': ..., 'text': ...}")
        ddf = self.spark.createDataFrame(rows, "doc_id bigint, text string")
        out = DM.minhash_index_query(
            self.spark, path, ddf, "doc_id", "text",
            threshold=0.8 if threshold is None else float(threshold))
        return [{"id": r.id_b, "duplicate_of": r.id_a,
                 "jaccard": r.jaccard}
                for r in out.collect()]

    def tokenize_check(self, project: str, bucket: str, table: str,
                       name: str, documents: list,
                       max_documents: int = 1024) -> list[dict]:
        """Tokenize ad-hoc documents under a stored bpe tokenizer (the
        dedup_check shape for the tokenizer kind): each submitted
        ``{"id": ..., "text": ...}`` returns its full token sequence and
        count under the FROZEN merges — in-vocab words serve from the
        cache, unseen words tokenize through the stored merge list. The
        per-document reassembly is driver-side over the (bounded)
        submitted set; the word-level tokenization runs in Spark."""
        import re as _re

        from .functions import ann_index as AI
        from .functions import bpe as BP
        from .functions.text import BPE_REGEX

        path = self._index_path(project, bucket, table, name,
                                must_exist=True)
        meta = AI.pq_index_load(self.spark, path).meta
        if meta.get("index_kind") != "bpe":
            raise CatalogError(
                "tokenize needs a bpe tokenizer index — this one is "
                f"{meta.get('index_kind', 'pq')!r}")
        if not documents:
            raise CatalogError("documents must be a non-empty list")
        if len(documents) > max_documents:
            raise CatalogError(
                f"document count {len(documents)} exceeds "
                f"{max_documents} — batch the requests")
        try:
            ids = [d["id"] for d in documents]
            if any(isinstance(i, float) and not i.is_integer()
                   for i in ids):
                raise CatalogError(
                    "document ids must be integral (a float id "
                    "would be silently truncated)")
            rows = [(int(d["id"]), str(d["text"])) for d in documents]
        except (TypeError, KeyError, ValueError):
            raise CatalogError(
                "each document needs {'id': ..., 'text': ...}")
        if len({r[0] for r in rows}) != len(rows):
            raise CatalogError("duplicate document ids in one request")
        merges = [tuple(m) for m in
                  BP.bpe_index_load(self.spark, path)["merges"]]
        ddf = self.spark.createDataFrame(rows,
                                         "doc_id bigint, text string")
        words = (ddf.select(F.explode(F.regexp_extract_all(
                     F.col("text"), F.lit(BPE_REGEX), F.lit(0)))
                     .alias("word")).distinct())
        stored = self.spark.read.parquet(
            os.path.join(path, "vocab")).select("word", "seq")
        cached = words.join(stored, "word")
        fresh = BP.apply_merges_to_words(
            words.join(stored.select("word"), "word", "left_anti"),
            merges)
        seq_map = {r["word"]: list(r["seq"]) for r in
                   cached.unionByName(fresh).collect()}
        # re.ASCII pins \s to [ \t\n\r\f\x0B] == Java's ASCII \s, so the
        # driver-side pre-tokenization matches the engine regex exactly
        rx = _re.compile(BPE_REGEX, _re.ASCII)
        out = []
        for did, text in rows:
            toks: list[str] = []
            for w in rx.findall(text):
                toks.extend(seq_map.get(w, list(w)))
            out.append({"id": did, "n_tokens": len(toks),
                        "tokens": toks})
        self._log("tokenize_check", project=project, bucket=bucket,
                  table=table, name=name, documents=len(rows))
        return sorted(out, key=lambda d: d["id"])

    def compact_index(self, project: str, bucket: str, table: str,
                      name: str, max_files: int = 4) -> dict:
        from .functions import ann_index as AI

        path = self._index_path(project, bucket, table, name,
                                must_exist=True)
        with self.catalog.acquire(project, bucket, table):
            if AI.pq_index_load(self.spark, path).meta.get(
                    "index_kind") in ("minhash", "semdedup", "bpe"):
                raise CatalogError(
                    "compact targets the posting-list layout of vector "
                    "indexes; rebuild or refresh a dedup/tokenizer "
                    "index")
            report = AI.pq_index_compact(self.spark, path,
                                         max_files=max_files)
        self._log("compact_index", project=project, bucket=bucket,
                  table=table, name=name)
        return {"compacted": {k: list(v) for k, v in report.items()}}

    def search_index(self, project: str, bucket: str, table: str,
                     name: str, queries: list, k: int = 5,
                     nprobe: int | None = None,
                     filter_labels: list | None = None,
                     max_queries: int = 1024, max_k: int = 100) -> list[dict]:
        """Serve top-k over a persisted index. ``queries`` is a JSON
        list of ``{"id": ..., "vector": [...]}`` (API-edge shape —
        bulk search goes through the functions API with a DataFrame).
        PQ indexes accept ``nprobe`` (labeled only) and
        ``filter_labels``; SQ8 takes neither. Query ids share the
        corpus id space (kNN-of-a-member semantics: a corpus vector
        never matches its own id) — searches for vectors OUTSIDE the
        corpus should use ids not present in it, e.g. negative."""
        from .functions import ann_index as AI

        path = self._index_path(project, bucket, table, name,
                                must_exist=True)
        idx = AI.pq_index_load(self.spark, path)
        if idx.meta.get("index_kind") in ("minhash", "semdedup"):
            raise CatalogError("a dedup index answers dedup_check, "
                               "not vector search")
        if idx.meta.get("index_kind") == "bpe":
            raise CatalogError("a bpe tokenizer answers tokenize, "
                               "not vector search")
        if not queries:
            raise CatalogError("queries must be a non-empty list")
        if len(queries) > max_queries:
            raise CatalogError(
                f"query count {len(queries)} exceeds {max_queries} — "
                "batch the requests or use the functions API")
        k = int(k)
        if not 1 <= k <= max_k:
            raise CatalogError(f"k must be in [1, {max_k}]")
        dim = idx.meta["dim"]
        rows = []
        for i, q in enumerate(queries):
            try:
                qid, vec = q["id"], list(q["vector"])
            except (TypeError, KeyError):
                raise CatalogError(
                    "each query needs {'id': ..., 'vector': [...]}")
            if len(vec) != dim:
                raise CatalogError(
                    f"query {i}: vector has {len(vec)} dims, index "
                    f"expects {dim}")
            try:
                rows.append((int(qid), [float(x) for x in vec]))
            except (TypeError, ValueError):
                raise CatalogError(
                    f"query {i}: id must be an integer and vector "
                    "entries numeric")
        qdf = self.spark.createDataFrame(
            rows, "query_id bigint, vector array<double>")
        kind = idx.meta.get("index_kind", idx.meta.get("kind", "pq"))
        try:
            if kind == "sq8":
                if nprobe is not None or filter_labels is not None:
                    raise CatalogError(
                        "nprobe/filter_labels need a labeled pq index")
                out = AI.sq8_index_search(self.spark, idx, qdf,
                                          "query_id", "vector", k=k)
            else:
                out = AI.pq_index_search(self.spark, idx, qdf, "query_id",
                                         "vector", k=k, nprobe=nprobe,
                                         filter_labels=filter_labels)
        except ValueError as e:
            # functions-layer contract violations (e.g. a residual index
            # searched without nprobe) are caller errors: 400, not 500
            raise CatalogError(str(e))
        return [r.asDict() for r in out.collect()]

    # ---------------------------------------------- versioned-table extras
    def table_history(self, project: str, bucket: str, table: str,
                      branch: str | None = None) -> list[dict]:
        """Commit log of a versioned table, oldest first (Delta-style
        DESCRIBE HISTORY). A branch with a CoW copy reports its own log
        (shallow-cloned main history + local commits)."""
        src, _ = self.catalog.resolve_table(project, bucket, table, branch)
        eff = branch if src == "branch" else None
        meta = self.catalog.read_meta(project, bucket, table, eff)
        if not self._versioned(meta):
            raise CatalogError(f"table {table} is not versioned")
        return self._version_log(project, bucket, table, eff).history()

    def vacuum_table(self, project: str, bucket: str, table: str,
                     retain_last: int = 1,
                     branch: str | None = None) -> dict:
        """Drop data of versions older than the last ``retain_last``
        commits (Delta-style VACUUM; history entries stay auditable).
        Branch-scoped vacuums resolve like ``table_history`` and only
        drop branch-local version data — a branch clone's shallow-cloned
        entries point at main's data dirs, which vacuum never touches."""
        src, _ = self.catalog.resolve_table(project, bucket, table, branch)
        eff = branch if src == "branch" else None
        meta = self.catalog.read_meta(project, bucket, table, eff)
        if not self._versioned(meta):
            raise CatalogError(f"table {table} is not versioned")
        with self.catalog.acquire(project, bucket, table):
            removed = self._version_log(project, bucket, table, eff).vacuum(
                retain_last)
        self._log("vacuum_table", project=project, bucket=bucket,
                  table=table, branch=eff, removed=removed)
        return {"removed_versions": removed}

    # ------------------------------------------------- service-parity ops
    def operations_log(self, limit: int = 100) -> list[dict]:
        """Tail of the operations log (reference operations_log table):
        the last ``limit`` records, read backwards from the end of the
        file one block at a time, so the cost follows ``limit`` and not
        the length of the (unbounded) log."""
        if limit <= 0 or not os.path.exists(self._ops_log_path):
            return []
        with self._ops_lock, open(self._ops_log_path, "rb") as f:
            pos = f.seek(0, os.SEEK_END)
            blocks, newlines = [], 0
            # limit + 1 newlines: everything after the first one is whole
            while pos > 0 and newlines <= limit:
                step = min(_OPS_TAIL_BLOCK, pos)
                pos -= step
                f.seek(pos)
                blocks.append(f.read(step))
                newlines += blocks[-1].count(b"\n")
        lines = b"".join(reversed(blocks)).split(b"\n")
        if pos > 0:
            lines = lines[1:]              # starts mid-record
        if lines and not lines[-1]:
            lines.pop()                    # the final record's newline
        return [json.loads(x) for x in lines[-limit:]]

    def create_api_key(self, name: str) -> str:
        """Mint an API key; store only its sha256 (reference api_keys table,
        src/database.py:172-417). Returns cleartext once."""
        import hashlib

        key = uuid.uuid4().hex + uuid.uuid4().hex
        digest = hashlib.sha256(key.encode()).hexdigest()
        path = os.path.join(self.catalog.warehouse, "_api_keys.json")
        # read-modify-write under the ops lock, staged + atomic rename —
        # concurrent creates must not drop keys, a crash must not corrupt
        with self._ops_lock:
            keys = {}
            if os.path.exists(path):
                with open(path) as f:
                    keys = json.load(f)
            keys[name] = {"sha256": digest, "ts": time.time()}
            tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(keys, f)
            os.replace(tmp, path)
        self._log("create_api_key", name=name)
        return key

    def verify_api_key(self, key: str) -> str | None:
        """Return the key's name if valid, else None."""
        import hashlib

        path = os.path.join(self.catalog.warehouse, "_api_keys.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            keys = json.load(f)
        digest = hashlib.sha256(key.encode()).hexdigest()
        for name, rec in keys.items():
            if rec["sha256"] == digest:
                return name
        return None

    # ------------------------------------------- project-scoped API keys
    # Reference routers/api_keys.py:95-440: keys belong to a project,
    # carry a scope (project_admin / branch_admin / branch_read — the
    # branch scopes require an existing branch), optional expiry, and
    # support soft revoke (never the last active project_admin key) and
    # rotate (NEW id + secret, same scope/branch/ttl, old key revoked).

    _KEY_SCOPES = ("project_admin", "branch_admin", "branch_read")

    def _project_keys_path(self) -> str:
        return os.path.join(self.catalog.warehouse, "_project_keys.json")

    def _project_keys_load(self) -> dict:
        path = self._project_keys_path()
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def _project_keys_save(self, keys: dict) -> None:
        path = self._project_keys_path()
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(keys, f)
        os.replace(tmp, path)

    def _key_public(self, rec: dict) -> dict:
        return {k: rec.get(k) for k in
                ("id", "project_id", "branch_id", "key_prefix", "scope",
                 "description", "created_at", "expires_at", "revoked_at")}

    def _mint_project_key(self, project: str, scope: str,
                          branch_id: str | None, description: str | None,
                          expires_at: float | None) -> tuple[dict, str]:
        import hashlib

        secret = f"pk_{project}_{uuid.uuid4().hex}{uuid.uuid4().hex[:8]}"
        key_id = f"key_{uuid.uuid4().hex[:8]}"
        rec = {"id": key_id, "project_id": project, "branch_id": branch_id,
               "scope": scope, "description": description,
               "sha256": hashlib.sha256(secret.encode()).hexdigest(),
               "key_prefix": secret[:12], "created_at": time.time(),
               "expires_at": expires_at, "revoked_at": None}
        return rec, secret

    def create_project_api_key(self, project: str,
                               scope: str = "project_admin",
                               branch_id: str | None = None,
                               description: str | None = None,
                               expires_in_days: float | None = None) -> dict:
        """Returns the public record + the cleartext ``api_key`` (shown
        exactly once, like the reference)."""
        if not os.path.isdir(self.catalog.project_dir(project)):
            raise NotFoundError(f"project {project} not found")
        if scope not in self._KEY_SCOPES:
            raise CatalogError(f"invalid scope {scope!r}")
        if scope in ("branch_admin", "branch_read"):
            if not branch_id:
                raise CatalogError(f"branch_id is required for scope "
                                   f"'{scope}'")
            if branch_id != "default" and not os.path.isdir(
                    self.catalog.project_dir(project, branch_id)):
                raise NotFoundError(f"branch {branch_id} not found")
        elif branch_id:
            raise CatalogError(
                "branch_id must be null for scope 'project_admin'")
        expires_at = (time.time() + expires_in_days * 86400
                      if expires_in_days else None)
        rec, secret = self._mint_project_key(project, scope, branch_id,
                                             description, expires_at)
        with self._ops_lock:
            keys = self._project_keys_load()
            keys[rec["id"]] = rec
            self._project_keys_save(keys)
        self._log("create_api_key", project=project, key_id=rec["id"],
                  scope=scope, branch_id=branch_id)
        return {**self._key_public(rec), "api_key": secret}

    def list_project_api_keys(self, project: str) -> list[dict]:
        return [self._key_public(r) for r in
                self._project_keys_load().values()
                if r["project_id"] == project]

    def get_project_api_key(self, project: str, key_id: str) -> dict:
        rec = self._project_keys_load().get(key_id)
        if rec is None or rec["project_id"] != project:
            raise NotFoundError(f"API key {key_id} not found")
        return self._key_public(rec)

    def revoke_project_api_key(self, project: str, key_id: str) -> None:
        with self._ops_lock:
            keys = self._project_keys_load()
            rec = keys.get(key_id)
            if rec is None or rec["project_id"] != project:
                raise NotFoundError(f"API key {key_id} not found")
            if rec["scope"] == "project_admin" and not rec["revoked_at"]:
                active = sum(1 for r in keys.values()
                             if r["project_id"] == project
                             and r["scope"] == "project_admin"
                             and not r["revoked_at"])
                if active <= 1:
                    raise CatalogError(
                        "Cannot revoke the last active project_admin key. "
                        "Create a new one first.")
            rec["revoked_at"] = time.time()
            self._project_keys_save(keys)
        self._log("revoke_api_key", project=project, key_id=key_id)

    def rotate_project_api_key(self, project: str, key_id: str) -> dict:
        """New id + secret with the old key's scope/branch/ttl; the old
        key is revoked in the same atomic write."""
        with self._ops_lock:
            keys = self._project_keys_load()
            old = keys.get(key_id)
            if old is None or old["project_id"] != project:
                raise NotFoundError(f"API key {key_id} not found")
            if old["revoked_at"]:
                raise CatalogError("Cannot rotate a revoked key. "
                                   "Create a new key instead.")
            expires_at = None
            if old["expires_at"]:
                ttl = old["expires_at"] - old["created_at"]
                expires_at = time.time() + ttl
            rec, secret = self._mint_project_key(
                project, old["scope"], old["branch_id"],
                f"{old.get('description') or 'API Key'} (rotated)",
                expires_at)
            old["revoked_at"] = time.time()
            keys[rec["id"]] = rec
            self._project_keys_save(keys)
        self._log("rotate_api_key", project=project, old=key_id,
                  new=rec["id"])
        return {**self._key_public(rec), "api_key": secret}

    def verify_project_api_key(self, key: str) -> dict | None:
        """Return the public record of a live (non-revoked, non-expired)
        scoped key matching ``key``, else None."""
        import hashlib

        digest = hashlib.sha256(key.encode()).hexdigest()
        now = time.time()
        for rec in self._project_keys_load().values():
            if rec["sha256"] == digest and not rec["revoked_at"] \
                    and not (rec["expires_at"] and rec["expires_at"] < now):
                return self._key_public(rec)
        return None

    # ------------------------------------------------------ project meta
    def _project_meta_path(self, project: str) -> str:
        return os.path.join(self.catalog.project_dir(project),
                            "_meta.json")

    def get_project_meta(self, project: str) -> dict:
        """Display name + settings (reference projects table metadata;
        defaults: name == id, empty settings)."""
        path = self._project_meta_path(project)
        meta = {"name": project, "settings": {}}
        if os.path.exists(path):
            with open(path) as f:
                meta.update(json.load(f))
        return meta

    def update_project_meta(self, project: str, name: str | None = None,
                            settings: dict | None = None) -> dict:
        """UpdateProject (reference routers/projects.py:314-400): patch
        the display name and/or merge settings keys."""
        if not os.path.isdir(self.catalog.project_dir(project)):
            raise NotFoundError(f"project {project} not found")
        with self._ops_lock:
            meta = {"name": project, "settings": {}}
            path = self._project_meta_path(project)
            if os.path.exists(path):
                with open(path) as f:
                    meta.update(json.load(f))
            if name is not None:
                meta["name"] = name
            if settings is not None:
                meta["settings"].update(settings)
            tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, path)
        self._log("update_project", project=project)
        return meta

    # --------------------------------------------------------------- stats
    def project_stats(self, project: str) -> dict:
        """Live project statistics (reference routers/projects.py:256-312):
        bucket/table counts from the catalog, size from walking the
        project directory — the Spark analogue of querying the DuckDB
        file."""
        buckets = self.catalog.list_buckets(project)
        n_tables = sum(len(self.catalog.list_tables(project, b))
                       for b in buckets)
        size = 0
        for dirpath, _dirs, files in os.walk(
                self.catalog.project_dir(project)):
            for name in files:
                try:
                    size += os.path.getsize(os.path.join(dirpath, name))
                except OSError:
                    pass
        return {"id": project, "size_bytes": size,
                "table_count": n_tables, "bucket_count": len(buckets)}

    # -------------------------------------------------------------- writes
    def _write_table(self, project: str, bucket: str, table: str, df: DataFrame,
                     branch: str | None = None, op: str = "write") -> None:
        """Stage parquet then publish: plain tables swap the data dir
        (single-writer under the table lock); versioned tables commit a new
        immutable version (multi-process OCC, backends/versioned.py) — on
        MAIN and on branches alike (branch CoW shallow-clones the log, so
        branch writes stack local commits on top of the cloned history)."""
        if branch is not None and not self.catalog.table_exists(
                project, bucket, table, branch):
            # a missed ensure_cow_for_write must fail loudly — silently
            # committing branch data into MAIN's version log corrupts main
            raise CatalogError(
                f"branch {branch} has no copy of {table}; "
                "call ensure_cow_for_write before writing")
        eff_branch = branch
        if self._versioned(
                self.catalog.read_meta(project, bucket, table, eff_branch)):
            log = self._version_log(project, bucket, table, eff_branch)
            # OCC: claim the version that succeeds the state this write was
            # computed from — snapshot BEFORE the (slow) parquet stage, so a
            # concurrent committer makes our commit fail instead of our
            # result silently clobbering a state it never read
            expected = log.latest_version() + 1
            staged = log.staging_dir()
            df.write.mode("overwrite").parquet(staged)
            version = log.commit(staged, op, version=expected)
            self._log("commit_version", project=project, bucket=bucket,
                      table=table, version=version, commit_op=op)
            return
        staged = self.catalog.staging_data_dir(project, bucket, table, branch)
        df.write.mode("overwrite").parquet(staged)
        self.catalog.swap_data_dir(project, bucket, table, staged, branch)
        # plain rewrite drops any optimize_table layout — keep meta honest
        # on MAIN and on BRANCH copies alike: a stale partition_by in
        # branch meta would route a later branch incremental through the
        # selective-rewrite path and swap hive leaf dirs into a flat data
        # dir (ADVICE r6)
        meta = self.catalog.read_meta(project, bucket, table, branch)
        if meta.properties.get("partition_by") \
                or meta.properties.get("hash_bucket_by"):
            meta.properties["partition_by"] = []
            meta.properties["hash_bucket_by"] = []
            meta.properties["n_hash_buckets"] = None
            self.catalog.write_meta(project, bucket, table, meta, branch)

    _SAFE_PARTITION_VALUE = re.compile(r"^[A-Za-z0-9._\-]+$")

    def _merge_partitioned(self, project: str, bucket: str, table: str,
                           staged: DataFrame, meta: TableMeta,
                           pk: list[str], dedup_mode: str,
                           branch: str | None) -> bool:
        """SELECTIVE PARTITION REWRITE for incremental imports into a
        hive-partitioned table (``optimize_table(partition_by=…)``): only
        the partitions an upsert actually touches are read-merged-swapped;
        untouched partition directories keep their files byte-identical.
        At 100 TB this is the difference between a merge costing
        O(changed partitions) and a full-table rewrite — the full scan it
        still performs is a COLUMN-PRUNED (pk + partition cols) pass to
        find the old homes of re-staged keys.

        Affected set per mode: update_duplicates = staged partitions ∪
        old homes of staged PKs (a key may move partitions — its old row
        must be rewritten away); do_nothing = partitions of genuinely-new
        keys; insert/fail_on_duplicates = staged partitions.

        Returns False (caller falls back to the full stage-and-swap) for
        versioned tables (commits are whole-table snapshots), when a
        partition column is missing, or when any affected partition value
        doesn't match the conservative safe charset (hive dir-name
        escaping differences would risk swapping the wrong directory).
        """
        pcols = meta.properties.get("partition_by") or []
        if not pcols or self._versioned(meta):
            return False
        if any(c not in staged.columns for c in pcols):
            return False
        existing = self.read_table(project, bucket, table, branch)

        aff = staged.select(*pcols).distinct()
        if pk and dedup_mode == "update_duplicates":
            old_homes = (existing.join(
                             staged.select(*pk).distinct(), pk, "leftsemi")
                         .select(*pcols).distinct())
            aff = aff.unionByName(old_homes).distinct()
            merge = lambda sub: KD.upsert_update_duplicates(sub, staged, pk)
        elif pk and dedup_mode == "do_nothing":
            # first-wins inside the batch (mirrors KD.upsert_do_nothing),
            # then only genuinely-new keys insert
            from pyspark.sql import Window
            w = (Window.partitionBy(*pk)
                       .orderBy(F.col("__seq").asc()))
            first = (staged.withColumn("__seq",
                                       F.monotonically_increasing_id())
                           .withColumn("__rn", F.row_number().over(w))
                           .filter(F.col("__rn") == 1)
                           .drop("__rn", "__seq"))
            # pin the non-deterministic arrival-order dedup so the
            # affected-partition probe and the merge write see the SAME
            # surviving rows
            new_rows = first.join(existing.select(*pk).distinct(),
                                  pk, "left_anti") \
                            .localCheckpoint(eager=False)
            aff = new_rows.select(*pcols).distinct()
            merge = lambda sub: sub.unionByName(new_rows)
        else:
            if pk and dedup_mode == "fail_on_duplicates":
                KD.check_fail_on_duplicates(existing, staged, pk)
            merge = lambda sub: sub.unionByName(staged)

        aff_rows = self._safe_partition_rows(aff)
        if aff_rows is None:
            return False
        if not aff_rows:
            return True                     # nothing to change
        merged = merge(existing.filter(self._partition_pred(pcols,
                                                            aff_rows)))
        if not self._rewrite_partitions(project, bucket, table, branch,
                                        merged, aff_rows, pcols):
            return False
        self._log("merge_partitioned", project=project, bucket=bucket,
                  table=table, partitions=len(aff_rows), mode=dedup_mode)
        return True

    def _merge_hash_bucketed(self, project: str, bucket: str, table: str,
                             staged: DataFrame, meta: TableMeta,
                             pk: list[str], dedup_mode: str,
                             branch: str | None) -> bool:
        """BUCKET-SCOPED MERGE for hash-bucketed tables
        (``optimize_table(hash_bucket_by=PK)``): a key's bucket is a pure
        function of the bucket columns, so for PK-conflict modes only
        the buckets of STAGED keys can change — no old-homes scan at
        all (the partitioned path must scan for re-staged keys' old
        partitions; here old home == staged bucket by construction).
        Reads, merges and swaps exactly those ``__bucket=k`` leaf dirs;
        the rest of the table keeps its files byte-identical, and the
        fail_on_duplicates precheck joins only the affected buckets.
        Returns False (caller takes the generic path) for versioned
        tables, non-bucketed layouts, or conflict modes whose bucket
        columns are not PK-derived."""
        props = meta.properties
        cols = props.get("hash_bucket_by") or []
        if not cols or self._versioned(meta):
            return False
        if any(c not in staged.columns for c in cols):
            return False
        conflict = pk and dedup_mode in ("update_duplicates", "do_nothing",
                                         "fail_on_duplicates")
        if conflict and not ({c.lower() for c in cols}
                             <= {c.lower() for c in pk}):
            return False        # bucket not PK-derived: old home may move
        n = int(props.get("n_hash_buckets") or 16)
        bexpr = self._bucket_expr(cols, n)
        _, data_dir = self.catalog.resolve_table(project, bucket, table,
                                                 branch)
        raw = self.spark.read.parquet(data_dir)
        if "__bucket" not in raw.columns:
            return False        # layout not yet materialized
        staged = staged.localCheckpoint(eager=False)  # consumed 2-3 times
        aff_rows = sorted({(int(r[0]),) for r in
                           staged.select(bexpr.alias("b"))
                                 .distinct().collect()})
        if not aff_rows:
            return True
        sub = (raw.filter(F.col("__bucket").isin([v for (v,) in aff_rows]))
                  .drop("__bucket").select(*staged.columns))
        if dedup_mode == "update_duplicates" and pk:
            merged = KD.upsert_update_duplicates(sub, staged, pk)
        elif dedup_mode == "do_nothing" and pk:
            merged = KD.upsert_do_nothing(sub, staged, pk)
        elif dedup_mode == "fail_on_duplicates" and pk:
            KD.check_fail_on_duplicates(sub, staged, pk)
            merged = sub.unionByName(staged)
        else:
            merged = sub.unionByName(staged)
        merged = merged.withColumn("__bucket", bexpr)
        if not self._rewrite_partitions(project, bucket, table, branch,
                                        merged, aff_rows, ["__bucket"]):
            return False
        self._log("merge_hash_bucketed", project=project, bucket=bucket,
                  table=table, buckets=len(aff_rows), mode=dedup_mode)
        return True

    def _delete_hash_bucketed(self, project: str, bucket: str, table: str,
                              survivors: DataFrame, deleted: DataFrame,
                              branch: str | None) -> bool:
        """Bucket-scoped DELETE: the affected buckets come from the
        DELETED rows' bucket ids (recomputed from row data — no
        partition column needed on the frame); only those leaf dirs are
        rewritten with their surviving rows."""
        meta = self.catalog.read_meta(project, bucket, table, branch)
        props = meta.properties
        cols = props.get("hash_bucket_by") or []
        if not cols or self._versioned(meta):
            return False
        if any(c not in deleted.columns for c in cols):
            return False
        n = int(props.get("n_hash_buckets") or 16)
        bexpr = self._bucket_expr(cols, n)
        aff_rows = sorted({(int(r[0]),) for r in
                           deleted.select(bexpr.alias("b"))
                                  .distinct().collect()})
        if not aff_rows:
            return True
        merged = (survivors.withColumn("__bucket", bexpr)
                           .filter(F.col("__bucket")
                                   .isin([v for (v,) in aff_rows])))
        if not self._rewrite_partitions(project, bucket, table, branch,
                                        merged, aff_rows, ["__bucket"]):
            return False
        self._log("delete_hash_bucketed", project=project, bucket=bucket,
                  table=table, buckets=len(aff_rows))
        return True

    @staticmethod
    def _partition_pred(pcols: list[str], aff_rows: list[tuple]):
        """OR of per-partition conjunctions — prunes scans to the
        affected hive directories."""
        pred = None
        for vals in aff_rows:
            c = None
            for col, v in zip(pcols, vals):
                e = F.col(col) == F.lit(v)
                c = e if c is None else (c & e)
            pred = c if pred is None else (pred | c)
        return pred

    def _safe_partition_rows(self, aff) -> list[tuple] | None:
        """Collect affected partition values; None when any value falls
        outside the conservative charset (hive dir-name escaping risk)."""
        rows = [tuple(r) for r in aff.collect()]
        for vals in rows:
            for v in vals:
                if v is None or not self._SAFE_PARTITION_VALUE.match(str(v)):
                    return None
        return rows

    def _rewrite_partitions(self, project: str, bucket: str, table: str,
                            branch: str | None, merged: DataFrame,
                            aff_rows: list[tuple], pcols: list[str]) -> bool:
        """Stage ``merged`` hive-partitioned, then swap ONLY the affected
        leaf dirs into the live data dir; an affected partition with no
        surviving rows is removed. Returns False WITHOUT touching the
        live dir when any staged partition name falls outside the
        expected set (a value whose str() differs from Spark's hive
        encoding, e.g. bool True vs 'true' — swapping on a mismatched
        name would silently drop rows); callers then take the full
        rewrite."""
        stage_dir = self.catalog.staging_data_dir(project, bucket, table,
                                                  branch)
        merged.write.mode("overwrite").partitionBy(*pcols) \
              .parquet(stage_dir)
        live = self.catalog.data_dir(project, bucket, table, branch)
        produced = set()
        for root, _dirs, files in os.walk(stage_dir):
            if any(f.endswith(".parquet") for f in files):
                produced.add(os.path.relpath(root, stage_dir))
        expected = {os.path.join(*[f"{c}={v}" for c, v in zip(pcols, vals)])
                    for vals in aff_rows}
        if not produced <= expected:
            shutil.rmtree(stage_dir, ignore_errors=True)
            return False
        for vals in aff_rows:
            rel = os.path.join(*[f"{c}={v}" for c, v in zip(pcols, vals)])
            dst = os.path.join(live, rel)
            src = os.path.join(stage_dir, rel)
            if rel in produced:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                trash = dst + f".old-{uuid.uuid4().hex}"
                if os.path.isdir(dst):
                    os.rename(dst, trash)
                os.rename(src, dst)
                shutil.rmtree(trash, ignore_errors=True)
            elif os.path.isdir(dst):
                shutil.rmtree(dst, ignore_errors=True)
        shutil.rmtree(stage_dir, ignore_errors=True)
        return True

    def _delete_partitioned(self, project: str, bucket: str, table: str,
                            survivors: DataFrame, deleted: DataFrame,
                            branch: str | None) -> bool:
        """Partition-scoped DELETE: the partitions holding matching rows
        come from a partition-column-pruned scan of the DELETED rows;
        only those directories are rewritten with their survivors —
        everything else keeps its files byte-identical. Returns False
        (caller does the full rewrite) for non-partitioned or versioned
        tables or unsafe partition values."""
        meta = self.catalog.read_meta(project, bucket, table, branch)
        pcols = meta.properties.get("partition_by") or []
        if not pcols or self._versioned(meta):
            return False
        aff_rows = self._safe_partition_rows(
            deleted.select(*pcols).distinct())
        if aff_rows is None:
            return False
        if not aff_rows:
            return True                  # predicate matched nothing
        merged = survivors.filter(self._partition_pred(pcols, aff_rows))
        if not self._rewrite_partitions(project, bucket, table, branch,
                                        merged, aff_rows, pcols):
            return False
        self._log("delete_partitioned", project=project, bucket=bucket,
                  table=table, partitions=len(aff_rows))
        return True

    def _infer_columns(self, path: str, file_format: str,
                       csv_options: dict | None = None) -> list[dict]:
        """Column declarations for CreateMode imports into a not-yet-
        existing table: CSV via bounded-sample inference; parquet/arrow
        via the file schema mapped to DuckDB type strings."""
        from .catalog.types import spark_to_duckdb_type
        if file_format == "csv":
            from .sources.infer import infer_csv_schema
            opts = csv_options or {}
            return infer_csv_schema(self.spark, path,
                                    header=opts.get("header", True) in
                                    (True, "true"),
                                    sep=opts.get("sep", ","))
        if file_format == "parquet":
            schema = self.spark.read.parquet(path).schema
        elif file_format == "arrow":
            import pyarrow as pa
            with pa.OSFile(path, "rb") as f:
                tbl = pa.ipc.open_stream(f).read_all()
            schema = self.spark.createDataFrame(tbl.slice(0, 0)).schema
        else:
            raise CatalogError(f"unsupported import format {file_format!r}")
        return [{"name": f.name,
                 "type": spark_to_duckdb_type(f.dataType.simpleString()
                                              .upper()),
                 "nullable": f.nullable}
                for f in schema.fields if not f.name.startswith("_")]

    def _conform(self, df: DataFrame, meta: TableMeta,
                 convert_empty_to_null: Iterable[str] = (),
                 import_as_null: Iterable[str] = ()) -> DataFrame:
        """W7 staging-schema enforcement: select declared columns in order,
        cast to declared types, add _timestamp. `_`-prefixed source columns
        are ignored (reference import_export.py:300-312).

        ``import_as_null`` mirrors proto/table.proto
        ``ImportOptions.importAsNull``: the listed literal values (string
        comparison, every column) import as NULL."""
        cols = []
        empties = {c.lower() for c in convert_empty_to_null}
        null_vals = list(import_as_null)
        for c in meta.columns:
            name, typ = c["name"], duckdb_to_spark_type(c["type"])
            col = F.col(name) if name in df.columns else F.lit(c.get("default"))
            if name.lower() in empties:
                col = F.when(col.cast("string") == "", None).otherwise(col)
            if null_vals:
                col = F.when(col.cast("string").isin(null_vals),
                             None).otherwise(col)
            cols.append(col.cast(typ).alias(name))
        return df.select(*cols).withColumn(TIMESTAMP_COL, F.current_timestamp())

    def ensure_cow_for_write(self, project: str, bucket: str, table: str,
                             branch: str | None) -> None:
        """Branch copy-on-write: copy main → branch on first branch write
        (reference src/database.py:3359-3415, copy :2926-2969)."""
        if branch is None or self.catalog.table_exists(project, bucket, table, branch):
            return
        meta = self.catalog.read_meta(project, bucket, table)
        os.makedirs(self.catalog.bucket_dir(project, bucket, branch), exist_ok=True)
        self.catalog.write_meta(project, bucket, table, meta, branch)
        if self._versioned(meta):
            # zero-copy CoW: shallow-clone the commit log — the branch
            # time-travels through the full main history, and its own
            # writes commit locally on top (backends/versioned.py)
            self._version_log(project, bucket, table).shallow_clone_into(
                self.catalog.table_dir(project, bucket, table, branch))
        src = self.catalog.data_dir(project, bucket, table)
        dst = self.catalog.data_dir(project, bucket, table, branch)
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)

    def import_file(self, project: str, bucket: str, table: str,
                    path: str | None = None,
                    file_format: str = "csv", dedup_mode: str = "update_duplicates",
                    incremental: bool = False, branch: str | None = None,
                    csv_options: dict | None = None,
                    convert_empty_to_null: Iterable[str] = (),
                    file_id: str | None = None,
                    import_strategy: str = "user_defined_table",
                    import_as_null: Iterable[str] = (),
                    create_mode: str | None = None) -> dict:
        """Import pipeline: STAGING → TRANSFORM → CLEANUP
        (reference src/routers/table_import.py:240-468).

        The source is either a direct ``path`` or a registered ``file_id``
        from the staging files API — the reference's primary ingest flow
        (prepare→upload→register, then import by file id:
        src/routers/table_import.py:286-361).

        Full load (incremental=False) = W1 overwrite. Incremental applies
        the dedup mode: update_duplicates W3 / insert_duplicates W5 /
        fail_on_duplicates W6 / pk-only do-nothing W4 — all PK-shuffle
        joins, never driver-side.

        ``import_strategy`` mirrors proto/table.proto
        ``ImportOptions.ImportStrategy``: ``user_defined_table`` conforms
        to the declared column types (this engine's historic behavior);
        ``string_table`` (the reference's classic-Keboola default, enum 0)
        loads EVERY column as STRING regardless of declared types — the
        table's stored schema follows, so later reads and DDL see VARCHAR
        columns, and existing typed rows are migrated to string on an
        incremental string-table import."""
        if (path is None) == (file_id is None):
            raise CatalogError("import_file needs exactly one of path / file_id")
        if import_strategy not in ("user_defined_table", "string_table"):
            raise CatalogError(
                f"unknown import strategy {import_strategy!r}")
        if create_mode not in (None, "create", "replace"):
            raise CatalogError(f"unknown create mode {create_mode!r}")
        if file_id is not None:
            path = self.files.local_path(project, file_id)
        if create_mode is not None:
            # proto/table.proto ImportOptions.CreateMode: CREATE fails if
            # the table exists (unless INCREMENTAL), REPLACE drops and
            # recreates it; a missing table is created from the source
            # file's schema (CSV: bounded-sample inference, sources/
            # infer.py; parquet/arrow: the file schema mapped to DuckDB
            # type strings)
            exists = self.catalog.table_exists(project, bucket, table)
            if exists and not incremental:
                if create_mode == "create":
                    raise AlreadyExistsError(
                        f"table {table} exists (create mode CREATE)")
                self.drop_table(project, bucket, table)
                exists = False
            if not exists:
                self.create_table(project, bucket, table,
                                  self._infer_columns(path, file_format,
                                                      csv_options))
        self.ensure_cow_for_write(project, bucket, table, branch)
        src_kind, _ = self.catalog.resolve_table(project, bucket, table, branch)
        eff_branch = branch if src_kind == "branch" else None
        meta = self.catalog.read_meta(project, bucket, table, eff_branch)
        meta_migration = None
        if import_strategy == "string_table" and any(
                c["type"].upper() not in ("VARCHAR", "STRING", "TEXT")
                for c in meta.columns):
            # Schema migration typed→VARCHAR. The new meta is NOT persisted
            # yet: read_table scans parquet with the persisted schema, so
            # writing VARCHAR meta before the data rewrite would make the
            # scan of the still-typed files fail (and a failed import would
            # leave every subsequent read broken). Existing rows are read
            # with the OLD meta, cast to string in the DataFrame, and the
            # VARCHAR meta lands only after the data rewrite succeeds
            # (ADVICE r6 high).
            meta = TableMeta(
                columns=[{**c, "type": "VARCHAR"} for c in meta.columns],
                primary_key=meta.primary_key, created_at=meta.created_at,
                properties=meta.properties)
            meta_migration = meta

        # STAGING (S1-S3). CSV columns are mapped BY HEADER NAME, not
        # position (reference inserts by name, src/database.py): an explicit
        # schema + header=true in Spark binds positionally and silently
        # jumbles a reordered file, so read header-named all-string columns
        # and let _conform select-by-name + cast to the declared types.
        if file_format == "csv":
            opts = {"header": "true", "sep": ",", "quote": '"', "escape": '"',
                    "nullValue": "", "inferSchema": "false"}
            opts.update(csv_options or {})
            staged = self.spark.read.options(**opts).csv(path)
        elif file_format == "parquet":
            staged = self.spark.read.parquet(path)
        elif file_format == "arrow":
            # Arrow IPC import (reference ADR-011 import endpoint,
            # docs/adr/011-apache-arrow-integration.md:99-107): the stream
            # enters Spark through the native Arrow createDataFrame path.
            import pyarrow as pa
            with pa.OSFile(path, "rb") as f:
                tbl = pa.ipc.open_stream(f).read_all()
            staged = self.spark.createDataFrame(tbl)
        else:
            raise CatalogError(f"unsupported import format {file_format!r}")
        staged = self._conform(staged, meta, convert_empty_to_null,
                               import_as_null)

        pk = meta.primary_key
        with self.catalog.acquire(project, bucket, table):
            existing = self.read_table(project, bucket, table, eff_branch)
            if import_strategy == "string_table":
                # migrate previously-typed rows so the union/upsert sees
                # one all-string schema
                existing = existing.select(
                    *[F.col(c).cast("string").alias(c) if c != TIMESTAMP_COL
                      else F.col(c) for c in existing.columns])
            before = existing.count()
            if dedup_mode not in ("insert_duplicates", "update_duplicates",
                                  "do_nothing", "fail_on_duplicates"):
                raise CatalogError(f"unknown dedup mode {dedup_mode!r}")
            # TRANSFORM (W1-W6); hive-partitioned tables take the
            # SELECTIVE PARTITION REWRITE path — only touched partitions
            # are merged and swapped (_merge_partitioned). A typed→string
            # schema migration forces the full-rewrite path: a selective
            # rewrite would leave untouched partitions typed while the
            # meta goes VARCHAR.
            if (incremental and meta_migration is None
                    and (self._merge_hash_bucketed(
                             project, bucket, table, staged, meta, pk,
                             dedup_mode, eff_branch)
                         or self._merge_partitioned(
                             project, bucket, table, staged, meta, pk,
                             dedup_mode, eff_branch))):
                pass
            else:
                if not incremental:
                    result = staged
                elif not pk or dedup_mode == "insert_duplicates":
                    result = existing.unionByName(staged)
                elif dedup_mode == "update_duplicates":
                    result = KD.upsert_update_duplicates(existing, staged, pk)
                elif dedup_mode == "do_nothing":
                    result = KD.upsert_do_nothing(existing, staged, pk)
                else:   # fail_on_duplicates
                    KD.check_fail_on_duplicates(existing, staged, pk)
                    result = existing.unionByName(staged)
                self._write_table(project, bucket, table, result, eff_branch,
                                  op=f"import:{dedup_mode}")
            if meta_migration is not None:
                # data is now all-string on disk — safe to persist VARCHAR.
                # _write_table may have reset partition_by in the persisted
                # meta (plain rewrite drops the optimized layout); carry
                # the current properties so the migration doesn't clobber it
                cur = self.catalog.read_meta(project, bucket, table,
                                             eff_branch)
                meta_migration.properties.update(cur.properties)
                self.catalog.write_meta(project, bucket, table,
                                        meta_migration, eff_branch)
            after = self.read_table(project, bucket, table, eff_branch).count()
        self._log("import_file", project=project, bucket=bucket, table=table,
                  format=file_format, incremental=incremental, mode=dedup_mode,
                  rows_before=before, rows_after=after)
        return {"rows_before": before, "rows_after": after,
                "rows_delta": after - before}

    def import_from_table(self, src: tuple[str, str, str],
                          dst: tuple[str, str, str],
                          column_mappings: dict[str, str] | None = None,
                          where: KF.Column | None = None,
                          seconds: int | None = None,
                          limit: int | None = None,
                          dedup_mode: str = "update_duplicates",
                          incremental: bool = True) -> dict:
        """W8 TableImportFromTableCommand: source select + src→dst column
        mapping + recent-rows (`seconds` on _timestamp) + limit, then the
        normal TRANSFORM stage (proto TableImportFromTableCommand)."""
        sdf = self.read_table(*src)
        if seconds is not None:
            cutoff = F.current_timestamp() - F.expr(f"INTERVAL {int(seconds)} SECOND")
            sdf = sdf.filter(F.col(TIMESTAMP_COL) >= cutoff)
        if where is not None:
            sdf = sdf.filter(where)
        if column_mappings:
            sdf = sdf.select(*[F.col(s).alias(d) for s, d in column_mappings.items()])
        if limit is not None:
            sdf = sdf.limit(int(limit))
        dmeta = self.catalog.read_meta(*dst)
        staged = self._conform(sdf, dmeta)
        project, bucket, table = dst
        pk = dmeta.primary_key
        with self.catalog.acquire(project, bucket, table):
            existing = self.read_table(project, bucket, table)
            before = existing.count()
            if not incremental:
                result = staged
            elif not pk or dedup_mode == "insert_duplicates":
                result = existing.unionByName(staged)
            elif dedup_mode == "update_duplicates":
                result = KD.upsert_update_duplicates(existing, staged, pk)
            elif dedup_mode == "do_nothing":
                result = KD.upsert_do_nothing(existing, staged, pk)
            else:
                KD.check_fail_on_duplicates(existing, staged, pk)
                result = existing.unionByName(staged)
            self._write_table(project, bucket, table, result,
                              op="import_from_table")
            after = self.read_table(project, bucket, table).count()
        self._log("import_from_table", src="/".join(src), dst="/".join(dst))
        return {"rows_before": before, "rows_after": after}

    # ------------------------------------------------------------- queries
    def _apply_filters(self, df: DataFrame, columns: list[str] | None = None,
                       where: str | None = None,
                       where_filters: list[dict] | None = None,
                       changed_since: str | None = None,
                       changed_until: str | None = None,
                       fulltext: str | None = None,
                       order_by: list[dict] | None = None,
                       limit: int | None = None) -> DataFrame:
        """The export/preview filter surface (P1-P5, O1-O3) compiled onto a
        scan — one place, used by preview/export/delete/workspace-load."""
        conds = []
        if where:
            conds.append(KF.raw_where(where))
        for wf in (where_filters or []):
            conds.append(KF.typed_where(wf["column"], wf.get("operator", "eq"),
                                        wf["values"], wf.get("dataType")))
        if changed_since or changed_until:
            conds.append(KF.change_interval(changed_since, changed_until))
        if fulltext:
            conds.append(KF.fulltext_search(df, fulltext))
        cond = KF.combine_where(conds)
        if cond is not None:
            df = df.filter(cond)
        if columns:
            df = df.select(*columns)
        for ob in (order_by or []):
            col = F.col(ob["column"])
            if ob.get("dataType"):
                col = col.try_cast(duckdb_to_spark_type(ob["dataType"]))
            df = df.orderBy(col.desc() if ob.get("order", "ASC").upper() == "DESC"
                            else col.asc())
        if limit is not None:
            df = df.limit(int(limit))
        return df

    def preview_arrow(self, project: str, bucket: str, table: str,
                      branch: str | None = None, limit: int = 1000,
                      version: int | None = None,
                      **filters) -> tuple[bytes, str, int]:
        """PreviewTable as an Apache Arrow IPC stream (reference ADR-011,
        docs/adr/011-apache-arrow-integration.md:60-137 — Arrow as the
        alternative wire format; the reference benchmarked 201× vs JSON
        on 100 k rows). Spark speaks Arrow natively (``df.toArrow()``),
        so the result batches never round-trip through Python row
        objects. Returns (ipc_bytes, schema_string, row_count)."""
        limit = min(int(limit), 10000)
        df = self._apply_filters(
            self.read_table(project, bucket, table, branch, version=version),
            limit=limit, **filters)
        return df_to_arrow_ipc(df)

    def export_arrow(self, project: str, bucket: str, table: str,
                     branch: str | None = None, **filters):
        """FULL-table Arrow IPC export (reference ADR-011 export shape) —
        the scalable twin of :meth:`preview_arrow`'s 10k-capped collect.
        The table is first written as DISTRIBUTED parquet (the executors
        do the scan/filter work in parallel), then converted to one Arrow
        IPC stream batch-by-batch on the driver: memory held at any time
        is one record batch, never the table, so a 100 GB export streams
        through a constant-size window. Returns
        (batch_iterator, schema_string, row_count) — the iterator yields
        IPC byte chunks (schema header first) and removes the staging
        directory when exhausted or closed."""
        import shutil as _sh
        import tempfile

        import pyarrow as pa
        import pyarrow.dataset as pads

        df = self._apply_filters(
            self.read_table(project, bucket, table, branch), **filters)
        staging = tempfile.mkdtemp(
            prefix="_arrow_export_", dir=self.catalog.warehouse)
        try:
            df.write.mode("overwrite").parquet(staging)
            ds = pads.dataset(staging, format="parquet")
            n = ds.count_rows()
            schema = ds.schema
        except BaseException:
            _sh.rmtree(staging, ignore_errors=True)
            raise

        def batches():
            import io
            buf = io.BytesIO()
            try:
                with pa.ipc.new_stream(buf, schema) as writer:
                    for batch in ds.to_batches(batch_size=1 << 16):
                        writer.write_batch(batch)
                        if buf.tell():
                            yield buf.getvalue()
                            buf.seek(0)
                            buf.truncate(0)
                if buf.tell():
                    yield buf.getvalue()   # EOS marker
            finally:
                _sh.rmtree(staging, ignore_errors=True)

        self._log("export_arrow", project=project, bucket=bucket,
                  table=table, rows=n)
        return batches(), str(schema), n

    def preview(self, project: str, bucket: str, table: str,
                branch: str | None = None, limit: int = 1000,
                version: int | None = None, **filters) -> list[dict]:
        """PreviewTable (reference src/database.py:4585-4672): bounded rows
        as dicts, ISO-serialized timestamps at the API edge. ``version``
        time-travels a versioned table's pinned commit."""
        limit = min(int(limit), 10000)  # reference caps (tables.py:729-735)
        df = self._apply_filters(self.read_table(project, bucket, table, branch,
                                                 version=version),
                                 limit=limit, **filters)
        out = []
        for row in df.collect():
            d = row.asDict()
            for k, v in d.items():
                if hasattr(v, "isoformat"):
                    d[k] = v.isoformat()
            out.append(d)
        return out

    def export_to_file(self, project: str, bucket: str, table: str, path: str,
                       file_format: str = "csv", compression: str | None = None,
                       branch: str | None = None, single_file: bool = False,
                       **filters) -> dict:
        """S5/S6 export sinks with the filter surface
        (reference src/routers/table_import.py:560-629).

        ``single_file=True`` coalesces to one part file — the shape the
        files API records as one downloadable object (the reference writes
        a single file). Driver-side convenience; leave False for large
        exports so the write stays parallel."""
        df = self._apply_filters(self.read_table(project, bucket, table, branch),
                                 **filters)
        if single_file:
            df = df.coalesce(1)
        writer = df.write.mode("overwrite")
        if file_format == "csv":
            writer = writer.option("header", True)
            if compression:
                writer = writer.option("compression", compression)
            writer.csv(path)
        elif file_format == "parquet":
            if compression:
                writer = writer.option("compression", compression)
            writer.parquet(path)
        else:
            raise CatalogError(f"unsupported export format {file_format!r}")
        n = self.spark.read.format(file_format) \
            .options(**({"header": "true"} if file_format == "csv" else {})) \
            .load(path).count()
        self._log("export", project=project, bucket=bucket, table=table,
                  format=file_format, rows=n)
        return {"rows_exported": n, "path": path}

    def delete_rows(self, project: str, bucket: str, table: str,
                    where: str | None = None,
                    where_filters: list[dict] | None = None,
                    ref_filter: dict | None = None,
                    branch: str | None = None) -> dict:
        """W10 DeleteTableRows: typed predicate grammar + optional
        ref-table IN/NOT_IN subquery (P6); rewrite keeping survivors and
        report deleted/remaining counts (reference src/database.py:5061-5130).
        Deleting everything triggers the pre-truncate auto-snapshot (W11)."""
        self.ensure_cow_for_write(project, bucket, table, branch)
        src_kind, _ = self.catalog.resolve_table(project, bucket, table, branch)
        eff_branch = branch if src_kind == "branch" else None
        with self.catalog.acquire(project, bucket, table):
            df = self.read_table(project, bucket, table, eff_branch)
            before = df.count()
            conds = []
            if where:
                conds.append(KF.raw_where(where))
            for wf in (where_filters or []):
                conds.append(KF.typed_where(wf["column"], wf.get("operator", "eq"),
                                            wf["values"], wf.get("dataType")))
            cond = KF.combine_where(conds)
            survivors = df if cond is None else df.filter(~cond)
            if ref_filter is not None:
                # rows matching the ref filter are DELETED → survivors are
                # the complement mode
                mode = ref_filter["mode"].upper()
                inverse = "NOT_IN" if mode == "IN" else "IN"
                ref_df = self.read_table(*ref_filter["table"])
                survivors = KF.ref_table_filter(
                    survivors, ref_filter["column"], inverse,
                    ref_df, ref_filter["ref_column"])
            if cond is None and ref_filter is None:
                # delete-all → auto snapshot first (W11, CLAUDE.md:152),
                # unless the settings hierarchy disables snapshots here
                if self.resolve_snapshot_settings(
                        project, bucket, table)["enabled"]:
                    self.snapshot_create(project, bucket, table,
                                         description="auto: pre-truncate")
                survivors = df.limit(0)
            # partition-scoped delete needs the DELETED rows (for the
            # affected-partition probe): the TRUE complement of survivors.
            # Survivors keep rows where ~cond is TRUE, so rows where cond
            # evaluates NULL are deleted too — `cond | cond.isNull()`,
            # not plain `cond`, or NULL-predicate rows would miss the
            # affected-partition set and survive layout-dependently
            # (ADVICE r6).
            deleted = None
            not_surv = None if cond is None else (cond | cond.isNull())
            if cond is not None or ref_filter is not None:
                deleted = df if cond is None else df.filter(not_surv)
                if ref_filter is not None:
                    base = df if cond is None else df.filter(~cond)
                    matched = KF.ref_table_filter(
                        base, ref_filter["column"],
                        ref_filter["mode"].upper(),
                        self.read_table(*ref_filter["table"]),
                        ref_filter["ref_column"])
                    deleted = (matched if cond is None
                               else df.filter(not_surv).unionByName(matched))
            if deleted is not None and (
                    self._delete_hash_bucketed(
                        project, bucket, table, survivors, deleted,
                        eff_branch)
                    or self._delete_partitioned(
                        project, bucket, table, survivors, deleted,
                        eff_branch)):
                pass
            else:
                self._write_table(project, bucket, table, survivors,
                                  eff_branch, op="delete_rows")
            remaining = self.read_table(project, bucket, table, eff_branch).count()
        self._log("delete_rows", project=project, bucket=bucket, table=table,
                  deleted=before - remaining, remaining=remaining)
        return {"rows_deleted": before - remaining, "rows_remaining": remaining}

    def profile(self, project: str, bucket: str, table: str,
                branch: str | None = None,
                approx_distinct: bool = False) -> dict:
        """Statistical profile (reference src/database.py:5132-5437) in 3-4
        full-table passes instead of per-column query loops.
        ``approx_distinct=True`` serves distinct counts from the
        mergeable-HLL sketch (~1.6 % error, register-sized shuffle) —
        the mode a 100 TB profile wants; exact is the default."""
        df = self.read_table(project, bucket, table, branch)
        return profile_table(df.drop(TIMESTAMP_COL),
                             approx_distinct=approx_distinct)

    # --------------------------------------------------- schema ops (D3-D7)
    def add_column(self, project: str, bucket: str, table: str, column: dict,
                   branch: str | None = None) -> None:
        """D3 (reference src/database.py:4679-4738): rewrite with the new
        column filled with its default."""
        self.ensure_cow_for_write(project, bucket, table, branch)
        eff = branch if branch and self.catalog.table_exists(
            project, bucket, table, branch) else None
        meta = self.catalog.read_meta(project, bucket, table, eff)
        if any(c["name"] == column["name"] for c in meta.columns):
            raise AlreadyExistsError(f"column {column['name']} exists")
        typ = duckdb_to_spark_type(column["type"])
        with self.catalog.acquire(project, bucket, table):
            df = self.read_table(project, bucket, table, eff)
            df = df.withColumn(column["name"],
                               F.lit(column.get("default")).cast(typ))
            # keep _timestamp last
            order = [c["name"] for c in meta.columns] + [column["name"], TIMESTAMP_COL]
            meta.columns.append({k: column.get(k) for k in
                                 ("name", "type", "nullable", "default")})
            self._write_table(project, bucket, table, df.select(*order), eff,
                              op="add_column")
            self.catalog.write_meta(project, bucket, table, meta, eff)
        self._log("add_column", table=table, column=column["name"])

    def drop_column(self, project: str, bucket: str, table: str, name: str,
                    branch: str | None = None) -> None:
        """D4 (reference src/database.py:4740-4785)."""
        self.ensure_cow_for_write(project, bucket, table, branch)
        eff = branch if branch and self.catalog.table_exists(
            project, bucket, table, branch) else None
        meta = self.catalog.read_meta(project, bucket, table, eff)
        if name in meta.primary_key:
            raise CatalogError(f"cannot drop primary-key column {name}")
        if not any(c["name"] == name for c in meta.columns):
            raise NotFoundError(f"column {name} not found")
        with self.catalog.acquire(project, bucket, table):
            df = self.read_table(project, bucket, table, eff).drop(name)
            meta.columns = [c for c in meta.columns if c["name"] != name]
            self._write_table(project, bucket, table, df, eff,
                              op="alter_schema")
            self.catalog.write_meta(project, bucket, table, meta, eff)
        self._log("drop_column", table=table, column=name)

    def alter_column(self, project: str, bucket: str, table: str, name: str,
                     new_name: str | None = None, new_type: str | None = None,
                     set_nullable: bool | None = None,
                     set_default=None, drop_default: bool = False,
                     branch: str | None = None) -> None:
        """D5 composable ALTER COLUMN (reference src/database.py:4787-4880)."""
        self.ensure_cow_for_write(project, bucket, table, branch)
        eff = branch if branch and self.catalog.table_exists(
            project, bucket, table, branch) else None
        meta = self.catalog.read_meta(project, bucket, table, eff)
        target = next((c for c in meta.columns if c["name"] == name), None)
        if target is None:
            raise NotFoundError(f"column {name} not found")
        with self.catalog.acquire(project, bucket, table):
            df = self.read_table(project, bucket, table, eff)
            if new_type:
                df = df.withColumn(name, F.col(name).cast(duckdb_to_spark_type(new_type)))
                target["type"] = new_type
            if set_nullable is not None:
                if set_nullable is False:
                    nulls = df.filter(F.col(name).isNull()).limit(1).count()
                    if nulls:
                        raise CatalogError(f"column {name} contains NULLs")
                target["nullable"] = set_nullable
            if drop_default:
                target["default"] = None
            elif set_default is not None:
                target["default"] = set_default
            if new_name:
                df = df.withColumnRenamed(name, new_name)
                target["name"] = new_name
                meta.primary_key = [new_name if k == name else k
                                    for k in meta.primary_key]
            self._write_table(project, bucket, table, df, eff,
                              op="alter_schema")
            self.catalog.write_meta(project, bucket, table, meta, eff)
        self._log("alter_column", table=table, column=name)

    def add_primary_key(self, project: str, bucket: str, table: str,
                        columns: list[str]) -> None:
        """D6: PK is metadata, but uniqueness is actively validated
        (groupBy(pk).count() > 1 precheck — reference recreates the table
        with a constraint, src/database.py:4882-4974)."""
        meta = self.catalog.read_meta(project, bucket, table)
        if meta.primary_key:
            raise AlreadyExistsError("table already has a primary key")
        names = {c["name"] for c in meta.columns}
        for c in columns:
            if c not in names:
                raise NotFoundError(f"column {c} not found")
        df = self.read_table(project, bucket, table)
        dupes = (df.groupBy(*columns).count().filter(F.col("count") > 1)
                   .limit(1).count())
        if dupes:
            raise KD.DuplicateKeyError("existing rows violate the primary key")
        nulls = df.filter(KF.combine_where(
            [F.col(c).isNull() for c in columns]) if len(columns) == 1
            else F.greatest(*[F.col(c).isNull().cast("int") for c in columns]) == 1
        ).limit(1).count()
        if nulls:
            raise CatalogError("primary key columns contain NULLs")
        meta.primary_key = list(columns)
        self.catalog.write_meta(project, bucket, table, meta)
        self._log("add_primary_key", table=table, columns=columns)

    def drop_primary_key(self, project: str, bucket: str, table: str) -> None:
        """D7 (reference src/database.py:4976-5059)."""
        meta = self.catalog.read_meta(project, bucket, table)
        meta.primary_key = []
        self.catalog.write_meta(project, bucket, table, meta)
        self._log("drop_primary_key", table=table)

    # ------------------------------------------------- snapshot settings
    def set_snapshot_settings(self, level: str, path: list[str],
                              enabled: bool | None = None,
                              retention_days: int | None = None) -> None:
        """Snapshot-settings hierarchy project → bucket → table (reference
        src/snapshot_config.py, src/database.py:1841-1991): settings at a
        narrower level override broader ones; unset fields inherit."""
        if level not in ("project", "bucket", "table"):
            raise CatalogError(f"invalid settings level {level!r}")
        want = {"project": 1, "bucket": 2, "table": 3}[level]
        if len(path) != want:
            raise CatalogError(f"{level} settings need a {want}-part path")
        store = self._snapshot_settings_path()
        with self._ops_lock:
            data = {}
            if os.path.exists(store):
                with open(store) as f:
                    data = json.load(f)
            key = "/".join(path)
            entry = data.setdefault(level, {}).setdefault(key, {})
            if enabled is not None:
                entry["enabled"] = enabled
            if retention_days is not None:
                entry["retention_days"] = retention_days
            tmp = store + f".tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(data, f)
            os.replace(tmp, store)
        self._log("set_snapshot_settings", level=level, path=path)

    def resolve_snapshot_settings(self, project: str, bucket: str,
                                  table: str) -> dict:
        """Effective settings for a table: table > bucket > project >
        defaults (enabled=True, retention: manual 90 d / auto 7 d —
        reference CLAUDE.md:243-244)."""
        out = {"enabled": True, "retention_days": 90,
               "auto_retention_days": 7}
        store = self._snapshot_settings_path()
        if not os.path.exists(store):
            return out
        with open(store) as f:
            data = json.load(f)
        for level, key in (("project", project),
                           ("bucket", f"{project}/{bucket}"),
                           ("table", f"{project}/{bucket}/{table}")):
            out.update(data.get(level, {}).get(key, {}))
        return out

    def _snapshot_settings_path(self) -> str:
        return os.path.join(self.catalog.warehouse, "_snapshot_settings.json")

    _SNAPSHOT_DEFAULTS = {"enabled": True, "retention_days": 90,
                          "auto_retention_days": 7}

    def get_snapshot_settings(self, level: str, path: list[str]) -> dict:
        """Reference SnapshotSettingsResponse
        (routers/snapshot_settings.py:111-137): the EFFECTIVE config at
        this level, per-field inheritance provenance
        (default/project/bucket/table), and the local overrides (None
        when the level sets nothing itself)."""
        if level not in ("project", "bucket", "table"):
            raise CatalogError(f"invalid settings level {level!r}")
        want = {"project": 1, "bucket": 2, "table": 3}[level]
        if len(path) != want:
            raise CatalogError(f"{level} settings need a {want}-part path")
        data = {}
        store = self._snapshot_settings_path()
        if os.path.exists(store):
            with open(store) as f:
                data = json.load(f)
        effective = dict(self._SNAPSHOT_DEFAULTS)
        inheritance = {k: "default" for k in effective}
        for lvl, parts in (("project", path[:1]), ("bucket", path[:2]),
                           ("table", path[:3]))[:want]:
            local = data.get(lvl, {}).get("/".join(parts), {})
            for k, v in local.items():
                effective[k] = v
                inheritance[k] = lvl
        local_config = data.get(level, {}).get("/".join(path)) or None
        return {"effective_config": effective, "inheritance": inheritance,
                "local_config": local_config}

    def delete_snapshot_settings(self, level: str, path: list[str]) -> None:
        """Clear the LOCAL overrides at one level (idempotent); narrower
        and broader levels are untouched — the next read re-inherits
        (reference delete_*_snapshot_settings)."""
        if level not in ("project", "bucket", "table"):
            raise CatalogError(f"invalid settings level {level!r}")
        store = self._snapshot_settings_path()
        removed = False
        with self._ops_lock:
            if not os.path.exists(store):
                return
            with open(store) as f:
                data = json.load(f)
            if data.get(level, {}).pop("/".join(path), None) is not None:
                tmp = store + f".tmp.{uuid.uuid4().hex[:8]}"
                with open(tmp, "w") as f:
                    json.dump(data, f)
                os.replace(tmp, store)
                removed = True
        # _log takes the same non-reentrant ops lock — never call it
        # while holding the lock
        if removed:
            self._log("delete_snapshot_settings", level=level, path=path)

    # ---------------------------------------------------------- snapshots
    def snapshot_create(self, project: str, bucket: str, table: str,
                        description: str = "") -> dict:
        """S7: ZSTD parquet snapshot + schema JSON sidecar
        (reference src/routers/snapshots.py:190-253)."""
        meta = self.catalog.read_meta(project, bucket, table)
        snap_id = uuid.uuid4().hex[:12]
        sd = self.catalog.snapshot_dir(project, bucket, table)
        os.makedirs(sd, exist_ok=True)
        path = os.path.join(sd, snap_id)
        df = self.read_table(project, bucket, table)
        rows = df.count()
        df.write.option("compression", "zstd").parquet(path)
        with open(path + ".schema.json", "w") as f:
            json.dump({"columns": meta.columns, "primary_key": meta.primary_key,
                       "description": description, "created_at": time.time(),
                       "row_count": rows}, f)
        self._log("snapshot_create", table=table, snapshot=snap_id)
        return {"snapshot_id": snap_id, "row_count": rows}

    def snapshot_list(self, project: str, bucket: str, table: str) -> list[dict]:
        sd = self.catalog.snapshot_dir(project, bucket, table)
        out = []
        if os.path.isdir(sd):
            for e in sorted(os.listdir(sd)):
                if e.endswith(".schema.json"):
                    with open(os.path.join(sd, e)) as f:
                        d = json.load(f)
                    d["snapshot_id"] = e[:-len(".schema.json")]
                    out.append(d)
        return out

    def snapshot_prune(self, project: str, bucket: str, table: str) -> list[str]:
        """Apply the resolved retention policy: drop snapshots older than
        retention_days (auto snapshots use auto_retention_days — reference
        retention manual 90 d / auto 7 d, CLAUDE.md:243-244). Returns the
        pruned snapshot ids."""
        settings = self.resolve_snapshot_settings(project, bucket, table)
        now = time.time()
        pruned = []
        for snap in self.snapshot_list(project, bucket, table):
            is_auto = str(snap.get("description", "")).startswith("auto:")
            days = (settings["auto_retention_days"] if is_auto
                    else settings["retention_days"])
            if now - snap.get("created_at", now) > days * 86400:
                sd = self.catalog.snapshot_dir(project, bucket, table)
                sid = snap["snapshot_id"]
                shutil.rmtree(os.path.join(sd, sid), ignore_errors=True)
                try:
                    os.remove(os.path.join(sd, sid + ".schema.json"))
                except FileNotFoundError:
                    pass
                pruned.append(sid)
        if pruned:
            self._log("snapshot_prune", table=table, pruned=pruned)
        return pruned

    def snapshot_delete(self, project: str, bucket: str, table: str,
                        snapshot_id: str) -> None:
        """Delete one snapshot (reference src/routers/snapshots.py:431-470)."""
        sd = self.catalog.snapshot_dir(project, bucket, table)
        path = os.path.join(sd, snapshot_id)
        if not os.path.isdir(path):
            raise NotFoundError(f"snapshot {snapshot_id} not found")
        shutil.rmtree(path)
        try:
            os.remove(path + ".schema.json")
        except FileNotFoundError:
            pass
        self._log("snapshot_delete", table=table, snapshot=snapshot_id)

    @staticmethod
    def _read_snapshot_sidecar(path: str, snapshot_id: str) -> dict:
        """A snapshot dir whose schema sidecar is missing or corrupt must
        surface as a clean NotFoundError (HTTP 404), not a raw
        FileNotFoundError/JSONDecodeError → 500 (ADVICE r8)."""
        try:
            with open(path + ".schema.json") as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError) as ex:
            raise NotFoundError(
                f"snapshot {snapshot_id} has no readable schema sidecar "
                f"({type(ex).__name__})") from ex

    def snapshot_restore(self, project: str, bucket: str, table: str,
                         snapshot_id: str) -> dict:
        """S4: CREATE OR REPLACE from snapshot parquet, PK re-applied from
        the sidecar (reference src/routers/snapshots.py:527-553)."""
        sd = self.catalog.snapshot_dir(project, bucket, table)
        path = os.path.join(sd, snapshot_id)
        if not os.path.isdir(path):
            raise NotFoundError(f"snapshot {snapshot_id} not found")
        sidecar = self._read_snapshot_sidecar(path, snapshot_id)
        meta = TableMeta(columns=sidecar["columns"],
                         primary_key=sidecar.get("primary_key", []),
                         created_at=time.time())
        df = self.spark.read.parquet(path)
        with self.catalog.acquire(project, bucket, table):
            self.catalog.write_meta(project, bucket, table, meta)
            self._write_table(project, bucket, table, df, op="snapshot_restore")
            rows = self.read_table(project, bucket, table).count()
        self._log("snapshot_restore", table=table, snapshot=snapshot_id)
        return {"row_count": rows}

    def snapshot_diff(self, project: str, bucket: str, table: str,
                      snapshot_id: str, other_snapshot_id: str | None = None,
                      sample_limit: int = 100) -> dict:
        """Beyond-parity: what changed between a snapshot and the live
        table (or between two snapshots — ``other_snapshot_id`` is the
        "new" side). The reference stops at create/list/restore/delete;
        an operator deciding WHETHER to restore needs the diff first.

        With a primary key: one full-outer join on the PK comparing an
        md5 row fingerprint over the non-PK, non-system columns
        (the engine-managed ``SYSTEM_COLS`` set — just ``_timestamp`` —
        is load metadata, not content; a user column that merely starts
        with ``_`` is still content, ADVICE r9; system exclusion mirrors
        reference src/grpc/handlers/import_export.py:300-312) —
        added / removed / changed / unchanged counts plus a bounded key
        sample per category. Without a PK: a multiset diff of full-row
        fingerprints (added/removed only — "changed" is undefined
        without identity). Both shapes are one shuffle on the join key
        and return O(1) counts + O(sample_limit) rows to the driver.

        ``schema_drift`` lists non-system columns present on only one
        side; fingerprints cover the common columns only, so a drifted
        column's values never flip a row to "changed" — the drift field
        is how that shows up.
        """
        from pyspark.sql import functions as F

        sd = self.catalog.snapshot_dir(project, bucket, table)
        path = os.path.join(sd, snapshot_id)
        if not os.path.isdir(path):
            raise NotFoundError(f"snapshot {snapshot_id} not found")
        sidecar = self._read_snapshot_sidecar(path, snapshot_id)
        old = self.spark.read.parquet(path)
        if other_snapshot_id is not None:
            path2 = os.path.join(sd, other_snapshot_id)
            if not os.path.isdir(path2):
                raise NotFoundError(
                    f"snapshot {other_snapshot_id} not found")
            new = self.spark.read.parquet(path2)
        else:
            new = self.read_table(project, bucket, table)
        pk = sidecar.get("primary_key") or []
        # fingerprints cover only columns present on BOTH sides, so rows
        # differing solely in an added/dropped column count as
        # "unchanged" — surface the drift explicitly instead of hiding
        # it (ADVICE r8)
        drift = {
            "only_in_old": [c for c in old.columns
                            if c not in new.columns
                            and c not in SYSTEM_COLS],
            "only_in_new": [c for c in new.columns
                            if c not in old.columns
                            and c not in SYSTEM_COLS],
        }

        def fingerprint(df, cols):
            # to_json over a struct: NULL, empty string and separator-
            # lookalike values all serialize distinctly (a concat_ws
            # fingerprint cannot tell NULL from a literal NUL byte, or
            # ('a\x01b','c') from ('a','b\x01c'))
            if not cols:
                return F.lit("")
            return F.md5(F.to_json(
                F.struct(*[F.col(c) for c in cols]),
                {"ignoreNullFields": "false"}))

        if pk:
            import functools
            import operator as _op

            data_cols = [c for c in new.columns
                         if c not in pk and c not in SYSTEM_COLS
                         and c in old.columns]
            o = old.select(*[F.col(c).alias(f"_o_{c}") for c in pk],
                           fingerprint(old, data_cols).alias("_fp_o"))
            n = new.select(*[F.col(c).alias(f"_n_{c}") for c in pk],
                           fingerprint(new, data_cols).alias("_fp_n"))
            # null-safe equality: a NULL PK value matches itself (a
            # plain join would double-count the row as added+removed)
            cond = functools.reduce(
                _op.and_,
                [o[f"_o_{c}"].eqNullSafe(n[f"_n_{c}"]) for c in pk])
            # fingerprints are never NULL (md5 of a struct json / ''),
            # so a NULL _fp marks the side that has no row
            j = o.join(n, cond, "full_outer").select(
                *[F.coalesce(f"_o_{c}", f"_n_{c}").alias(c) for c in pk],
                F.when(F.col("_fp_o").isNull(), F.lit("added"))
                 .when(F.col("_fp_n").isNull(), F.lit("removed"))
                 .when(F.col("_fp_o") != F.col("_fp_n"),
                       F.lit("changed"))
                 .otherwise(F.lit("unchanged")).alias("status"))
            # counts + three sample scans consume j: cut the plan once
            # instead of re-running the scans and the full-outer
            # shuffle per action
            j = j.localCheckpoint(eager=False)
            counts = {r["status"]: r["n"] for r in
                      j.groupBy("status").agg(F.count(F.lit(1)).alias("n"))
                       .collect()}
            samples = {
                s: [{c: r[c] for c in pk} for r in
                    j.filter(F.col("status") == s).orderBy(*pk)
                     .limit(sample_limit).collect()]
                for s in ("added", "removed", "changed")}
            out = {"mode": "primary_key", "primary_key": pk,
                   "schema_drift": drift,
                   "added": counts.get("added", 0),
                   "removed": counts.get("removed", 0),
                   "changed": counts.get("changed", 0),
                   "unchanged": counts.get("unchanged", 0),
                   "samples": samples}
        else:
            cols = [c for c in new.columns
                    if c not in SYSTEM_COLS and c in old.columns]
            o = (old.groupBy(fingerprint(old, cols).alias("fp"))
                    .agg(F.count(F.lit(1)).alias("n_o")))
            n = (new.groupBy(fingerprint(new, cols).alias("fp"))
                    .agg(F.count(F.lit(1)).alias("n_n")))
            j = (o.join(n, "fp", "full_outer")
                  .select(F.coalesce("n_o", F.lit(0)).alias("n_o"),
                          F.coalesce("n_n", F.lit(0)).alias("n_n")))
            agg = j.agg(
                F.sum(F.greatest(F.col("n_n") - F.col("n_o"), F.lit(0)))
                 .alias("added"),
                F.sum(F.greatest(F.col("n_o") - F.col("n_n"), F.lit(0)))
                 .alias("removed"),
                F.sum(F.least("n_o", "n_n")).alias("unchanged")).collect()[0]
            out = {"mode": "rowset", "schema_drift": drift,
                   "added": int(agg["added"] or 0),
                   "removed": int(agg["removed"] or 0),
                   "changed": 0,
                   "unchanged": int(agg["unchanged"] or 0)}
        self._log("snapshot_diff", table=table, snapshot=snapshot_id,
                  other=other_snapshot_id)
        return out

    # ------------------------------------------------------------ branches
    def create_branch(self, project: str, branch: str) -> None:
        """CreateDevBranch: empty branch dir; tables CoW on first write
        (reference src/database.py:2848-2862)."""
        d = self.catalog.project_dir(project, branch)
        if os.path.exists(d):
            raise AlreadyExistsError(f"branch {branch} exists")
        os.makedirs(d)
        self._log("create_branch", project=project, branch=branch)

    def drop_branch(self, project: str, branch: str) -> None:
        d = self.catalog.project_dir(project, branch)
        if not os.path.isdir(d):
            raise NotFoundError(f"branch {branch} not found")
        shutil.rmtree(d)
        self._log("drop_branch", project=project, branch=branch)

    def branch_pull(self, project: str, branch: str, bucket: str, table: str) -> None:
        """Refresh the branch copy from main
        (reference src/routers/branches.py:288-372)."""
        if not self.catalog.table_exists(project, bucket, table, branch):
            raise NotFoundError(f"table {table} has no branch copy")
        meta = self.catalog.read_meta(project, bucket, table)
        df = self.read_table(project, bucket, table)
        with self.catalog.acquire(project, bucket, table):
            self.catalog.write_meta(project, bucket, table, meta, branch)
            self._write_table(project, bucket, table, df, branch)
        self._log("branch_pull", table=table, branch=branch)

    # ------------------------------------------------- bucket share / link
    def share_bucket(self, project: str, bucket: str) -> None:
        """ShareBucket: mark shareable (metadata flag)."""
        d = self.catalog.bucket_dir(project, bucket)
        if not os.path.isdir(d):
            raise NotFoundError(f"bucket {bucket} not found")
        with open(os.path.join(d, ".shared.json"), "w") as f:
            json.dump({"shared_at": time.time()}, f)
        self._log("share_bucket", project=project, bucket=bucket)

    def link_bucket(self, src_project: str, src_bucket: str,
                    dst_project: str, dst_bucket: str) -> None:
        """LinkBucket: destination bucket reads through to the source
        (view-like indirection, no data copy)."""
        sd = self.catalog.bucket_dir(src_project, src_bucket)
        if not os.path.isfile(os.path.join(sd, ".shared.json")):
            raise CatalogError(f"bucket {src_bucket} is not shared")
        self.catalog.create_bucket(dst_project, dst_bucket)
        with open(os.path.join(self.catalog.bucket_dir(dst_project, dst_bucket),
                               ".link.json"), "w") as f:
            json.dump({"project": src_project, "bucket": src_bucket}, f)
        self._log("link_bucket", src=f"{src_project}/{src_bucket}",
                  dst=f"{dst_project}/{dst_bucket}")

    def unshare_bucket(self, project: str, bucket: str) -> None:
        """UnshareBucket: drop the shareable flag (refuses while links
        exist is the reference's DB-level concern; metadata flag here)."""
        path = os.path.join(self.catalog.bucket_dir(project, bucket),
                            ".shared.json")
        if not os.path.isfile(path):
            raise NotFoundError(f"bucket {bucket} is not shared")
        os.remove(path)
        self._log("unshare_bucket", project=project, bucket=bucket)

    def unlink_bucket(self, project: str, bucket: str) -> None:
        """UnlinkBucket: remove the read-through indirection; the local
        bucket remains (empty) like the reference's unlink."""
        path = os.path.join(self.catalog.bucket_dir(project, bucket),
                            ".link.json")
        if not os.path.isfile(path):
            raise NotFoundError(f"bucket {bucket} is not linked")
        os.remove(path)
        self._log("unlink_bucket", project=project, bucket=bucket)

    def list_linked_tables(self, project: str, bucket: str) -> list[str]:
        src_p, src_b = self._resolve_link(project, bucket)
        return self.catalog.list_tables(src_p, src_b)

    def grant_readonly(self, project: str, bucket: str) -> None:
        """GrantReadonly (reference bucket_sharing.py:659-718): metadata-only
        — enforcement is the link read-through (ATTACH READ_ONLY there)."""
        d = self.catalog.bucket_dir(project, bucket)
        if not os.path.isdir(d):
            raise NotFoundError(f"bucket {bucket} not found")
        with open(os.path.join(d, ".readonly.json"), "w") as f:
            json.dump({"granted_at": time.time()}, f)
        self._log("grant_readonly", project=project, bucket=bucket)

    def revoke_readonly(self, project: str, bucket: str) -> None:
        """RevokeReadonly (reference bucket_sharing.py:732-780): no-op apart
        from metadata, mirrored as flag removal (idempotent like the ref)."""
        d = self.catalog.bucket_dir(project, bucket)
        if not os.path.isdir(d):
            raise NotFoundError(f"bucket {bucket} not found")
        path = os.path.join(d, ".readonly.json")
        if os.path.isfile(path):
            os.remove(path)
        self._log("revoke_readonly", project=project, bucket=bucket)

    # ----------------------------------------------------------- workspaces
    def create_workspace(self, workspace: str) -> None:
        d = self.catalog.workspace_dir(workspace)
        if os.path.exists(d):
            raise AlreadyExistsError(f"workspace {workspace} exists")
        os.makedirs(d)
        self._log("create_workspace", workspace=workspace)

    def drop_workspace(self, workspace: str) -> None:
        d = self.catalog.workspace_dir(workspace)
        if not os.path.isdir(d):
            raise NotFoundError(f"workspace {workspace} not found")
        shutil.rmtree(d)
        self._log("drop_workspace", workspace=workspace)

    def clear_workspace(self, workspace: str) -> None:
        d = self.catalog.workspace_dir(workspace)
        if not os.path.isdir(d):
            raise NotFoundError(f"workspace {workspace} not found")
        for e in os.listdir(d):
            shutil.rmtree(os.path.join(d, e), ignore_errors=True)
        self._log("clear_workspace", workspace=workspace)

    def drop_workspace_object(self, workspace: str, name: str) -> None:
        """DropWorkspaceObjectCommand: remove one loaded object."""
        d = os.path.join(self.catalog.workspace_dir(workspace), name)
        if not os.path.exists(d):
            raise NotFoundError(f"workspace object {name} not found")
        shutil.rmtree(d, ignore_errors=True)
        self._log("drop_workspace_object", workspace=workspace, object=name)

    def load_table_to_workspace(self, workspace: str, project: str, bucket: str,
                                table: str, dst_name: str,
                                columns: list[str] | None = None,
                                where: str | None = None) -> dict:
        """W9 CTAS workspace load with columns/where pushdown
        (reference src/database.py:3778-3836)."""
        df = self.read_table(project, bucket, table)
        if where:
            df = df.filter(KF.raw_where(where))
        if columns:
            df = df.select(*columns)
        dst = os.path.join(self.catalog.workspace_dir(workspace), dst_name)
        df.write.mode("overwrite").parquet(dst)
        n = self.spark.read.parquet(dst).count()
        self._log("workspace_load", workspace=workspace, table=dst_name, rows=n)
        return {"rows_loaded": n}

    def workspace_table(self, workspace: str, name: str) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.catalog.workspace_dir(workspace), name))

    def reset_workspace_password(self, workspace: str) -> str:
        """ResetWorkspacePassword: mint a credential, store only its sha256
        (the reference's workspace_credentials rows hold sha256 digests,
        src/pgwire_server.py:568-650, src/database.py:2587-2648). Returns
        the cleartext once; verification is hash comparison."""
        import hashlib

        d = self.catalog.workspace_dir(workspace)
        if not os.path.isdir(d):
            raise NotFoundError(f"workspace {workspace} not found")
        password = uuid.uuid4().hex
        digest = hashlib.sha256(password.encode()).hexdigest()
        with open(os.path.join(d, "_credentials.json"), "w") as f:
            json.dump({"sha256": digest, "ts": time.time()}, f)
        self._log("reset_workspace_password", workspace=workspace)
        return password

    def verify_workspace_password(self, workspace: str, password: str) -> bool:
        import hashlib

        path = os.path.join(self.catalog.workspace_dir(workspace),
                            "_credentials.json")
        if not os.path.exists(path):
            return False
        with open(path) as f:
            stored = json.load(f)["sha256"]
        return hashlib.sha256(password.encode()).hexdigest() == stored

    # ------------------------------------------- pgwire session registry
    # Reference routers/pgwire_auth.py (/internal/pgwire): the REST
    # backchannel an external pgwire proxy (duckgres) uses — register a
    # session after auth, heartbeat activity + query counts, close with
    # a reason, list/cleanup stale ones. Persisted like the reference's
    # metadata DB rows so cleanup semantics survive restarts.

    def _pgwire_sessions_path(self) -> str:
        return os.path.join(self.catalog.warehouse, "_pgwire_sessions.json")

    def _pgwire_sessions_load(self) -> dict:
        path = self._pgwire_sessions_path()
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def _pgwire_sessions_save(self, sessions: dict) -> None:
        path = self._pgwire_sessions_path()
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(sessions, f)
        os.replace(tmp, path)

    def pgwire_session_create(self, session_id: str, workspace_id: str,
                              client_ip: str | None = None) -> dict:
        if not os.path.isdir(self.catalog.workspace_dir(workspace_id)):
            raise NotFoundError(f"workspace {workspace_id} not found")
        now = time.time()
        rec = {"session_id": session_id, "workspace_id": workspace_id,
               "client_ip": client_ip, "status": "active",
               "created_at": now, "last_activity_at": now,
               "query_count": 0, "closed_reason": None}
        with self._ops_lock:
            sessions = self._pgwire_sessions_load()
            sessions[session_id] = rec
            self._pgwire_sessions_save(sessions)
        self._log("pgwire_session_create", session=session_id,
                  workspace=workspace_id)
        return rec

    def pgwire_session_get(self, session_id: str) -> dict:
        rec = self._pgwire_sessions_load().get(session_id)
        if rec is None:
            raise NotFoundError(f"session {session_id} not found")
        return rec

    def pgwire_session_activity(self, session_id: str,
                                increment_queries: int = 0) -> dict:
        with self._ops_lock:
            sessions = self._pgwire_sessions_load()
            rec = sessions.get(session_id)
            if rec is None:
                raise NotFoundError(f"session {session_id} not found")
            rec["last_activity_at"] = time.time()
            rec["query_count"] += int(increment_queries or 0)
            self._pgwire_sessions_save(sessions)
        return rec

    def pgwire_session_close(self, session_id: str,
                             reason: str = "disconnected") -> None:
        with self._ops_lock:
            sessions = self._pgwire_sessions_load()
            rec = sessions.get(session_id)
            if rec is None:
                raise NotFoundError(f"session {session_id} not found")
            rec["status"] = "closed"
            rec["closed_reason"] = reason
            rec["last_activity_at"] = time.time()
            self._pgwire_sessions_save(sessions)
        self._log("pgwire_session_close", session=session_id, reason=reason)

    def pgwire_sessions_list(self, workspace_id: str | None = None,
                             status: str | None = None) -> list[dict]:
        out = list(self._pgwire_sessions_load().values())
        if workspace_id:
            out = [s for s in out if s["workspace_id"] == workspace_id]
        if status:
            out = [s for s in out if s["status"] == status]
        return sorted(out, key=lambda s: s["created_at"])

    def pgwire_sessions_cleanup(self, idle_timeout_seconds: float) -> int:
        """Mark active sessions idle past the timeout as ``timeout``;
        returns how many were marked (reference cleanup semantics)."""
        cutoff = time.time() - idle_timeout_seconds
        marked = 0
        with self._ops_lock:
            sessions = self._pgwire_sessions_load()
            for rec in sessions.values():
                if rec["status"] == "active" \
                        and rec["last_activity_at"] < cutoff:
                    rec["status"] = "timeout"
                    rec["closed_reason"] = "idle_timeout"
                    marked += 1
            if marked:
                self._pgwire_sessions_save(sessions)
        if marked:
            self._log("pgwire_sessions_cleanup", marked=marked)
        return marked

    # ----------------------------------------------------------- object info
    def object_info(self, path: list[str]) -> dict:
        """ObjectInfo: describe a project / bucket / table path (the
        reference dispatches on path length, src/grpc/servicer.py registry;
        table info mirrors get_table_info)."""
        if len(path) == 1:
            project = path[0]
            return {"type": "project", "name": project,
                    "buckets": self.catalog.list_buckets(project)}
        if len(path) == 2:
            project, bucket = path
            return {"type": "bucket", "project": project, "name": bucket,
                    "tables": self.list_linked_tables(project, bucket)}
        if len(path) == 3:
            project, bucket, table = path
            return {"type": "table",
                    **self.table_info(project, bucket, table)}
        raise CatalogError(f"invalid object path: {path}")

    # ------------------------------------------------ SQL passthrough (Q1/Q2)
    def register_project_views(self, project: str,
                               branch: str | None = None) -> list[str]:
        """ATTACH-equivalent: every project table becomes a temp view named
        '{bucket}_{table}' (reference src/pgwire_server.py:107-152).

        Registration is CACHED against the engine's catalog generation
        (bumped by every logged operation, mutations included) while
        (project, branch) is the most recent project registrant on the
        session: a PG-wire session or query burst re-registers nothing
        until something in the warehouse actually changed — listing
        buckets + rebuilding every table's scan plan costs ~200 ms per
        table otherwise. A cache hit returns the SAME view-name list as a
        fresh registration (the documented public contract). A switch to
        another project or branch drops the previous registrant's views
        that the new one does not define, so one project never resolves
        another's tables. Single-writer assumption: the generation counter
        is per-engine-instance, so mutations made by ANOTHER process over
        the same warehouse do not invalidate this cache — run one engine
        per warehouse (the same assumption the table lock manager
        makes)."""
        ns = self._views
        with ns.lock:
            # read before listing: a mutation racing this registration
            # bumps past it, so the next call misses instead of reusing
            gen = self._generation

            def build():
                for bucket in self.catalog.list_buckets(project):
                    for table in self.list_linked_tables(project, bucket):
                        yield f"{bucket}_{table}", self.read_table(
                            project, bucket, table, branch)

            if ns.project.refresh(self.spark,
                                  (self._views_owner, project, branch),
                                  gen, build):
                # the workspace layer skips project names: its set is stale
                ns.workspace.gen = None
            return list(ns.project.names)

    def register_workspace_views(self, workspace: str) -> list[str]:
        """Workspace-local objects as temp views by BARE name — the
        reference's workspace SQL runs inside the workspace DuckDB
        database, so tables created there (CTAS loads, COPY FROM STDIN)
        resolve unqualified (src/pgwire_server.py:107-152 attaches the
        project as schemas ON TOP of the workspace db). A name the
        registered project views define is skipped, so a collision
        resolves to the PROJECT table (the read contract wins).

        Cached like :meth:`register_project_views`: reused while the
        catalog generation is unchanged and this workspace is the most
        recent workspace registrant. Every workspace mutation (create,
        drop, clear, object drop, table load, password reset, PG-wire
        COPY FROM STDIN) logs and so bumps the generation, and a
        project-layer rebuild invalidates this layer too. A switch to
        another workspace drops the previous one's views."""
        ns = self._views
        with ns.lock:
            gen = self._generation     # before listing, as for projects
            taken = frozenset(ns.project.names)

            def build():
                d = self.catalog.workspace_dir(workspace)
                if not os.path.isdir(d):
                    return
                for name in sorted(os.listdir(d)):
                    p = os.path.join(d, name)
                    if name.startswith("_") or name in taken \
                            or not os.path.isdir(p):
                        continue
                    try:
                        df = self.spark.read.parquet(p)
                    except Exception:
                        # half-written / non-table dir: skip, don't fail
                        # auth'd SQL
                        continue
                    yield name, df

            ns.workspace.refresh(self.spark, (self._views_owner, workspace),
                                 gen, build, keep=taken)
            return list(ns.workspace.names)

    def _sql(self, project: str, sql: str, branch: str | None,
             workspace: str | None = None) -> DataFrame:
        """``spark.sql`` against the project's (and workspace's) views.
        One lock spans registration and analysis, which binds the views
        into the plan, so a concurrent statement on another project or
        workspace (PG-wire is thread-per-connection) cannot swap them in
        between; execution runs outside it."""
        with self._views.lock:
            self.register_project_views(project, branch)
            if workspace:
                self.register_workspace_views(workspace)
            return self.spark.sql(sql)

    def execute_query_arrow(self, project: str, sql: str,
                            branch: str | None = None,
                            timeout_seconds: float | None = None,
                            max_rows: int | None = 100_000,
                            ) -> tuple[bytes, str, int]:
        """Q1 ExecuteQuery with Arrow IPC results (reference ADR-011 query
        endpoint, docs/adr/011-apache-arrow-integration.md:78-97): same
        view registration / job-group timeout / truncation semantics as
        :meth:`execute_query`, but the bounded result leaves the JVM as
        Arrow batches (``df.toArrow()``) and is returned as an IPC stream
        — no Python row marshaling, no JSON. Returns
        (ipc_bytes, schema_string, row_count)."""
        sc = self.spark.sparkContext
        group = f"exec-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, sql[:100], interruptOnCancel=True)
        timer = None
        if timeout_seconds:
            timer = threading.Timer(timeout_seconds,
                                    lambda: sc.cancelJobGroup(group))
            timer.start()
        try:
            df = self._sql(project, sql, branch)
            if max_rows is not None:
                tbl = df.limit(max_rows + 1).toArrow()
                if tbl.num_rows > max_rows:
                    tbl = tbl.slice(0, max_rows)
                    self._log("execute_query_truncated", project=project,
                              max_rows=max_rows)
            else:
                tbl = df.toArrow()
        finally:
            if timer:
                timer.cancel()
            sc.setJobGroup("", "")
        import pyarrow as pa
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tbl.schema) as writer:
            writer.write_table(tbl)
        return sink.getvalue().to_pybytes(), str(tbl.schema), tbl.num_rows

    def execute_query(self, project: str, sql: str,
                      branch: str | None = None,
                      timeout_seconds: float | None = None,
                      stringify: bool = False,
                      max_rows: int | None = 100_000,
                      workspace: str | None = None) -> list[dict]:
        """Q1 ExecuteQuery (reference src/grpc/handlers/query.py:95-161):
        register views, run SQL, optionally stringify values like the
        reference's protobuf marshaling. Statement timeout enforced by a
        job-group cancel timer (the reference SETs statement_timeout).

        ``max_rows`` caps the driver-side collect (the reference stringifies
        unbounded result sets into one protobuf — a driver OOM at scale);
        results are truncated to the cap, recorded in the ops log. Pass
        ``max_rows=None`` to explicitly opt into an unbounded collect.
        ``workspace`` additionally registers that workspace's local objects
        as bare-name views (the PG-wire session contract)."""
        sc = self.spark.sparkContext
        group = f"exec-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, sql[:100], interruptOnCancel=True)
        timer = None
        if timeout_seconds:
            timer = threading.Timer(timeout_seconds,
                                    lambda: sc.cancelJobGroup(group))
            timer.start()
        try:
            df = self._sql(project, sql, branch, workspace)
            if max_rows is not None:
                # limit(n+1) so truncation is detectable without a count
                rows = df.limit(max_rows + 1).collect()
                if len(rows) > max_rows:
                    rows = rows[:max_rows]
                    self._log("execute_query_truncated", project=project,
                              max_rows=max_rows)
            else:
                rows = df.collect()
        finally:
            if timer:
                timer.cancel()
            sc.setJobGroup("", "")
        out = []
        for r in rows:
            d = r.asDict()
            if stringify:
                d = {k: (None if v is None else
                         v.isoformat() if hasattr(v, "isoformat") else str(v))
                     for k, v in d.items()}
            out.append(d)
        return out
