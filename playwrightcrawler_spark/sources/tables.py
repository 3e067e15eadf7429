"""Snapshot-versioned parquet tables — the sandbox stand-in for Iceberg.

Production design (SURVEY.md §1.3): Iceberg tables with hidden partitioning
(``months(discovered_at)`` for the monthly-index parity,
``bucket(N, host_salt)`` for the frontier), MERGE INTO … WHEN NOT
MATCHED THEN INSERT for the `_id` seen-set, snapshots + time travel for
backup/restore (S8) and wave checkpointing. No Iceberg runtime ships in
this sandbox, so this module provides the same *semantics* over bare
parquet:

- ONE ``manifest.json`` per warehouse holds every table's ``schemas`` and
  ``versions`` (``Manifest``). An engine operation is one
  ``Lakehouse.transaction()`` whose table commits publish together in one
  atomic rename (Iceberg's snapshot commit, spanning tables), so a kill
  anywhere leaves the last whole operation. The transaction belongs to the
  operation, not to a thread: the thread it starts with
  ``Manifest.concurrently`` (a wave's crawled append beside its frontier
  commit) joins it and commits into it, and it ends only after that
  thread returns. A killed operation's version numbers are reused: a table
  empties a version's directory first;
- ``read(version=...)`` is time travel; ``latest_version`` is the resume
  point (test: kill anywhere → relaunch → identical tables);
- reads are planned from the manifest, as Iceberg plans scans from table
  metadata. ``manifest.json`` holds every distinct read schema once
  (version entries name theirs by index, a merge-on-read table keeps a
  second one for flips) and each partitioned snapshot's partition
  directories. Every relation is built with ``spark.read.schema(...)``,
  so no read launches a schema-inference job or opens a footer, and a
  partitioned delta table is one relation per partition value (the
  partition column a literal, so value filters prune whole relations),
  not one per snapshot. Spark still lists the directories a relation
  reads, in a job once they pass
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32); an
  Iceberg manifest list removes that listing too;
- a delta or merge-on-read commit whose columns differ from the recorded
  schema in name or type raises before it writes; full-table writes may
  change the schema, which is recorded for that version;
- a merge-on-read commit with no flips whose inserts hold no rows
  publishes nothing (an insert-only commit is the seen-set MERGE: the
  caller anti-joins its rows against the key set first).

The interface is deliberately the subset that maps 1:1 onto Iceberg calls
(``writeTo(...).append()``, ``MERGE INTO``, ``VERSION AS OF``) so swapping
the backend is a catalog change, not a rewrite.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from contextlib import contextmanager
from functools import reduce
from pathlib import Path
from urllib.parse import unquote

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _read_schema(schema: StructType, partition_by=()) -> StructType:
    """``schema`` in the form ``spark.read.parquet`` infers it for files
    written from a frame of that schema: data columns in file order,
    partition columns last, every field nullable."""
    data = [f for f in schema.fields if f.name not in partition_by]
    return StructType(data + [schema[c] for c in partition_by]).toNullable()


def _dir_rows(d: Path) -> int:
    """Rows in the parquet files of directory ``d``, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in d.glob("*.parquet"))


def _partition_value(raw: str) -> str | None:
    """A hive partition directory value as Spark wrote it."""
    return None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)


class Manifest:
    """The catalog's one commit point: ``manifest.json`` mapping each table
    name to its section, ``{"schemas": [...], "versions": [...]}``.

    Tables read and commit their section of the in-memory copy. Commits
    inside ``transaction()`` are visible to this process at once and
    reach disk together, in one rename, when the outermost transaction
    exits; an exception inside discards them all and reloads the file.

    A transaction belongs to the operation that opened it, not to a
    thread. The opening thread holds the lock until it exits, so an
    operation on another thread (a streaming ingest beside a wave) waits
    for the whole transaction. The thread the operation starts with
    ``concurrently`` joins it: its commits land in it without taking the
    lock, one change of the in-memory manifest at a time, and the
    transaction ends only after it has returned. Outside a
    transaction a read first reloads the file if another writer
    replaced it."""

    def __init__(self, path: Path):
        self.path = path
        self._lock = threading.Lock()
        # guards the in-memory manifest and ``_members``, the threads of
        # the open transaction (none when no transaction is open)
        self._mutex = threading.Lock()
        self._members: set[int] = set()
        self._load()

    def _stat(self) -> tuple | None:
        """Identifies the file's content: every publish is a new file."""
        try:
            st = os.stat(self.path)
        except FileNotFoundError:
            return None
        return st.st_ino, st.st_mtime_ns, st.st_size

    def _load(self) -> None:
        """Read the file, dropping commits not yet published."""
        self._stamp, self.tables, self.pending = self._stat(), {}, False
        if self._stamp:
            self.tables = json.loads(self.path.read_text())["tables"]

    def _joined(self) -> bool:
        with self._mutex:
            return threading.get_ident() in self._members

    def section(self, name: str) -> dict:
        if not self._members and self._stat() != self._stamp:
            self._load()
        return self.tables.get(name) or {"schemas": [], "versions": []}

    @contextmanager
    def change(self, name: str):
        """Table ``name``'s section to change, in the open transaction (a
        one-commit transaction of its own outside any); the changes of the
        transaction's threads apply one at a time."""
        with self.transaction(), self._mutex:
            yield self.tables.setdefault(name, {"schemas": [], "versions": []})
            self.pending = True

    @contextmanager
    def transaction(self):
        if self._joined():
            yield  # a nested call or a joined thread: the open transaction
            return
        with self._lock:
            if self._stat() != self._stamp:
                self._load()
            self._members.add(threading.get_ident())
            try:
                yield
                if self.pending:
                    tmp = self.path.with_suffix(".tmp")
                    tmp.write_text(json.dumps({"tables": self.tables}, indent=1))
                    os.replace(tmp, self.path)  # atomic commit point
                    self._stamp, self.pending = self._stat(), False
            except BaseException:
                self._load()
                raise
            finally:
                with self._mutex:
                    self._members.clear()

    def concurrently(self, here, beside) -> tuple:
        """Run ``here`` on this thread and, at once, ``beside`` on a new
        ``InheritableThread`` (so its Spark jobs carry this thread's job
        group and local properties) that joins this thread's open
        transaction. Waits for both, on success or failure, then re-raises
        the exception raised first; nothing of the transaction is
        published after a failure. Returns (``here``'s result,
        ``beside``'s result)."""
        if not self._joined():
            raise RuntimeError("concurrently() needs an open transaction on this thread")
        results, errors = [None, None], []

        def run(i, fn):
            try:
                results[i] = fn()
            except BaseException as e:
                errors.append(e)

        def branch():
            with self._mutex:
                self._members.add(threading.get_ident())
            try:
                run(1, beside)
            finally:
                with self._mutex:
                    self._members.discard(threading.get_ident())

        thread = InheritableThread(target=branch)
        thread.start()
        run(0, here)
        thread.join()
        if errors:
            raise errors[0]
        return tuple(results)


class SnapshotTable:
    """kind='full': every snapshot is the whole table (frontier — the
    Iceberg copy-on-write analogue). kind='delta': every snapshot is an
    increment and read() unions them (crawled/metrics — the Iceberg
    fast-append analogue); append cost is O(wave), not O(table)."""

    def __init__(self, root: str, name: str, kind: str = "full",
                 partition_by: list[str] | None = None, manifest: Manifest | None = None):
        self.dir = Path(root) / name
        self.name = name
        self.kind = kind
        # hive-style partition columns per snapshot — the bare-parquet
        # analogue of Iceberg's hidden months(ts) partitioning (S3:
        # reference monthly indices, playwrightcrawler.py:1458-1481);
        # a filter on them prunes whole relations (see read)
        self.partition_by = partition_by or []
        self.dir.mkdir(parents=True, exist_ok=True)
        # a table built on its own is a one-table catalog in its directory
        self.manifest = manifest or Manifest(self.dir / "manifest.json")

    # -- manifest -----------------------------------------------------------
    @property
    def _m(self) -> dict:
        """This table's manifest section: ``schemas`` and ``versions``."""
        return self.manifest.section(self.name)

    def _new_version(self) -> tuple[int, str]:
        """The next version and its directory, emptied of whatever a killed
        operation left there (its number is reused)."""
        v = (self.latest_version or 0) + 1
        shutil.rmtree(self._snap_dir(v), ignore_errors=True)
        return v, self._snap_dir(v)

    def _commit(self, version: int, meta: dict | None = None, **schemas: StructType) -> None:
        """Commit ``version`` (published with the enclosing transaction).
        Its entry names each of its schemas (``schema`` for the data,
        ``flips_schema`` for MoR flips) by index into the section's
        ``schemas`` list, which holds every distinct schema once; a
        partitioned snapshot also lists its partition directories."""
        with self.manifest.change(self.name) as m:
            if m["versions"] and m["versions"][-1]["version"] >= version:
                # two threads of one transaction wrote this table at once
                raise RuntimeError(f"table {self.name}: version {version} is taken")
            entry = {"version": version, "committed_at": time.time(), **(meta or {})}
            for key, schema in schemas.items():
                js = schema.jsonValue()
                if js not in m["schemas"]:
                    m["schemas"].append(js)
                entry[key] = m["schemas"].index(js)
            if self.partition_by:
                root = Path(self._snap_dir(version))
                entry["partitions"] = sorted(
                    p.relative_to(root).as_posix()
                    for p in root.glob("/".join(f"{c}=*" for c in self.partition_by))
                )
            m["versions"].append(entry)

    @staticmethod
    def _schema(m: dict, upto: int | None = None, key: str = "schema") -> StructType | None:
        """The ``key`` schema in force at version ``upto`` (default: the
        latest), None before the first commit that records one."""
        for e in reversed(m["versions"]):
            if key in e and (upto is None or e["version"] <= upto):
                return StructType.fromJson(m["schemas"][e[key]])
        return None

    def _check_drift(self, m: dict, new: StructType, key: str = "schema") -> None:
        """Refuse a commit whose read schema ``new`` differs from the
        recorded ``key`` schema in a column's name or type: the table's
        readers would drop or misread that column."""
        old = self._schema(m, key=key)
        if old is None:
            return
        was = {f.name: f.dataType.simpleString() for f in old.fields}
        now = {f.name: f.dataType.simpleString() for f in new.fields}
        drift = sorted(c for c in was.keys() | now.keys() if was.get(c) != now.get(c))
        if drift:
            raise ValueError(
                f"table {self.name}: commit schema differs from the recorded {key} "
                "in columns " + ", ".join(
                    f"{c} ({was.get(c, 'absent')} -> {now.get(c, 'absent')})" for c in drift
                )
            )

    @property
    def latest_version(self) -> int | None:
        v = self._m["versions"]
        return v[-1]["version"] if v else None

    def versions(self) -> list[dict]:
        return list(self._m["versions"])

    def exists(self) -> bool:
        return self.latest_version is not None

    def _snap_dir(self, version: int) -> str:
        return str(self.dir / "snapshots" / f"v{version:06d}")

    # -- IO -------------------------------------------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        m = self._m
        snaps = [e for e in m["versions"] if version is None or e["version"] <= version]
        if not snaps:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        if self.kind != "delta":
            snaps = snaps[-1:]
        schema = self._schema(m, upto=snaps[-1]["version"])
        if not self.partition_by:
            return spark.read.schema(schema).parquet(
                *[self._snap_dir(e["version"]) for e in snaps])
        # one relation per partition value over every snapshot directory
        # holding it, the partition columns added as literals (a value
        # filter folds to false on the other relations and prunes them)
        data = StructType([f for f in schema.fields if f.name not in self.partition_by])
        paths: dict[str, list[str]] = {}
        for e in snaps:
            for p in e["partitions"]:
                paths.setdefault(p, []).append(f"{self._snap_dir(e['version'])}/{p}")
        parts = []
        for p, dirs in paths.items():
            values = dict(kv.split("=", 1) for kv in p.split("/"))
            parts.append(spark.read.schema(data).parquet(*dirs).select("*", *[
                F.lit(_partition_value(values[c])).cast(schema[c].dataType).alias(c)
                for c in self.partition_by
            ]))
        if not parts:
            return spark.createDataFrame([], schema)
        return reduce(DataFrame.unionByName, parts)

    def write(self, df: DataFrame, meta: dict | None = None) -> int:
        """Full-table snapshot write (Iceberg: overwritePartitions); on a
        delta table, one increment."""
        schema = _read_schema(df.schema, self.partition_by)
        if self.kind == "delta":
            self._check_drift(self._m, schema)
        v, d = self._new_version()
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(d)
        self._commit(v, meta, schema=schema)
        return v

    def append(self, spark: SparkSession, df: DataFrame, meta: dict | None = None) -> int:
        """Append ``df`` to a delta table as one increment (old snapshots
        stay immutable). Other kinds refuse: their write is a new base."""
        if self.kind != "delta":
            raise TypeError(f"table {self.name}: only delta tables append")
        return self.write(df, meta)

    def write_rows(self, rows: list[dict], schema, meta: dict | None = None) -> int:
        """Driver-local write for tiny frames: straight pyarrow parquet, no
        Spark job. ``schema`` is a pyarrow schema. For delta tables the rows
        are an increment; for full tables they ARE the new snapshot (used by
        the 64-row bloom sidecar)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        # the Spark form of the file schema: a timestamp without a time zone
        # reads back as timestamp_ntz
        read_schema = from_arrow_schema(schema, prefer_timestamp_ntz=True).toNullable()
        if self.kind == "delta":
            self._check_drift(self._m, read_schema)
        v, d = self._new_version()
        Path(d).mkdir(parents=True, exist_ok=True)
        cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
        pq.write_table(pa.table(cols, schema=schema), f"{d}/part-00000.parquet")
        self._commit(v, meta, schema=read_schema)
        return v

    def read_rows(self) -> list[dict]:
        """The mirror of ``write_rows`` for a full table: the latest
        snapshot's rows as dicts, read driver-side with pyarrow, no Spark
        job (the bloom sidecar's probe read)."""
        import pyarrow.parquet as pq

        return pq.read_table(f"{self._snap_dir(self.latest_version)}/part-00000.parquet").to_pylist()


class MorTable(SnapshotTable):
    """Merge-on-read keyed table — the Iceberg MoR analogue for the
    frontier. A wave commit writes ONLY the increments (O(wave), never
    O(table)):

    - ``inserts``: brand-new rows (full schema);
    - ``flips``: ``(key, wave)`` visited-marks for rows selected this wave.

    ``read()`` reconstructs current state WITHOUT shuffling the big side:
    (base ∪ insert-deltas) LEFT JOIN broadcast(flips aggregated by key) —
    the flip set is bounded by total-crawled, orders of magnitude below the
    frontier (on real Iceberg this is positional-delete merge-on-read, no
    join at all). ``compact()`` folds everything into a fresh base every K
    waves so the delta list stays bounded; old snapshots remain immutable
    (time travel / resume read any committed version)."""

    FLIP_COLS = ("url_hash", "wave")

    # above this many accumulated flip rows, read() merges flips with a
    # shuffle join instead of a broadcast — a broadcast that grows with
    # crawled-since-base would eventually exceed any driver/executor
    # memory budget (round-2 verdict; real Iceberg sidesteps this with
    # positional deletes). Tests/engines may override per instance.
    FLIP_BROADCAST_ROWS = 5_000_000

    def __init__(self, root: str, name: str, manifest: Manifest | None = None):
        super().__init__(root, name, kind="mor", manifest=manifest)

    # -- commits --------------------------------------------------------------
    def write(self, df: DataFrame, meta: dict | None = None) -> int:
        """Full base snapshot (bootstrap / compaction)."""
        v, d = self._new_version()
        df.write.mode("overwrite").parquet(d)
        self._commit(v, {**(meta or {}), "base": True}, schema=_read_schema(df.schema))
        return v

    def commit_wave(
        self,
        inserts: DataFrame | None,
        flips: DataFrame | None,
        meta: dict | None = None,
    ) -> int:
        """One O(wave) commit: write increment files, then commit one
        manifest entry for both (a kill before the enclosing transaction
        publishes leaves an unreferenced directory, never a corrupt
        table). Inserts must carry
        the schema in force, flips the recorded flips schema. With no flips
        and inserts holding no rows (read from the file footers) nothing is
        published and the result is None."""
        m = self._m
        schemas = {}
        if inserts is not None:
            schemas["schema"] = _read_schema(inserts.schema)
            self._check_drift(m, schemas["schema"])
        if flips is not None:
            flips = flips.select(*self.FLIP_COLS)
            schemas["flips_schema"] = _read_schema(flips.schema)
            self._check_drift(m, schemas["flips_schema"], key="flips_schema")
        v, d = self._new_version()
        if inserts is not None:
            inserts.write.mode("overwrite").parquet(f"{d}/inserts")
            if flips is None and not _dir_rows(Path(d) / "inserts"):
                shutil.rmtree(d)
                return None
        if flips is not None:
            flips.write.mode("overwrite").parquet(f"{d}/flips")
        self._commit(v, {**(meta or {}), "base": False}, **schemas)
        return v

    # -- reconstruction ---------------------------------------------------------
    def _since_base(self, version: int | None = None) -> tuple[int | None, list[int]]:
        """(last base version or None, the versions after it) of the table
        at ``version`` (default: the latest)."""
        entries = [e for e in self._m["versions"] if version is None or e["version"] <= version]
        base = max((e["version"] for e in entries if e.get("base")), default=None)
        return base, [e["version"] for e in entries if base is None or e["version"] > base]

    def _base_dir(self, version: int | None) -> str:
        base, _ = self._since_base(version)
        if base is None:
            raise FileNotFoundError(f"table {self.name} has no base snapshot")
        return self._snap_dir(base)

    def _delta_dirs(self, version: int | None, sub: str) -> list[str]:
        """The ``sub`` directories (inserts or flips) of the deltas after
        the last base, up to ``version``."""
        dirs = (f"{self._snap_dir(v)}/{sub}" for v in self._since_base(version)[1])
        return [d for d in dirs if Path(d).exists()]

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        m = self._m
        schema = self._schema(m, upto=version)

        rows = spark.read.schema(schema).parquet(self._base_dir(version))
        insert_dirs = self._delta_dirs(version, "inserts")
        flip_dirs = self._delta_dirs(version, "flips")
        if insert_dirs:
            rows = rows.unionByName(spark.read.schema(schema).parquet(*insert_dirs))
        if flip_dirs:
            flips = (
                spark.read.schema(self._schema(m, upto=version, key="flips_schema"))
                .parquet(*flip_dirs)
                .groupBy("url_hash")
                .agg(F.max("wave").alias("_flip_wave"))
            )
            # broadcast only while the accumulated flip set is small;
            # beyond the threshold fall back to a shuffle join (the flip
            # set is still orders of magnitude below the frontier, and
            # compaction triggered on flip volume keeps this path rare)
            if self.flip_rows_since_base(upto=version) <= self.FLIP_BROADCAST_ROWS:
                flips = F.broadcast(flips)
            rows = (
                rows.join(flips, on="url_hash", how="left")
                .withColumn(
                    "visited",
                    F.when(F.col("_flip_wave").isNotNull(), True).otherwise(F.col("visited")),
                )
                .withColumn(
                    "wave",
                    F.when(F.col("_flip_wave").isNotNull(), F.col("_flip_wave").cast("int"))
                    .otherwise(F.col("wave")),
                )
                .drop("_flip_wave")
            )
        return rows

    def read_keys(self, spark: SparkSession, cols: tuple[str, ...] = ("url_hash",),
                  version: int | None = None) -> DataFrame:
        """The table's KEY SET (url_hash ∪ …) without the merge-on-read flip
        join. Flip deltas only mark existing keys visited — they never add or
        remove keys — so the seen-set consumers (anti-join, Bloom build) can
        read base ∪ insert-deltas directly: a plain multi-dir parquet scan
        with column pruning, no flip aggregation and no broadcast build per
        use. At 10^10 rows that removes one whole join from every wave's
        dedup path (on Iceberg: a data-file scan that skips the positional
        delete merge)."""
        dirs = [self._base_dir(version), *self._delta_dirs(version, "inserts")]
        return spark.read.schema(self._schema(self._m, upto=version)).parquet(*dirs).select(*cols)

    def read_inserts(self, spark: SparkSession, version: int,
                     cols: tuple[str, ...]) -> DataFrame:
        """The rows delta ``version`` inserted, read back from its files
        with the schema in force at that version."""
        schema = self._schema(self._m, upto=version)
        return spark.read.schema(schema).parquet(
            f"{self._snap_dir(version)}/inserts").select(*cols)

    def deltas_since_base(self) -> int:
        return len(self._since_base()[1])

    def _footer_rows(self, sub: str, upto: int | None, with_base: bool = False) -> int:
        """Rows of the ``sub`` increments after the last base (and of the
        base itself with ``with_base``) up to version ``upto``, summed from
        parquet footers: driver-side metadata reads, no Spark job, exact
        whoever committed them."""
        dirs = ([self._base_dir(upto)] if with_base else []) + self._delta_dirs(upto, sub)
        return sum(_dir_rows(Path(d)) for d in dirs)

    def flip_rows_since_base(self, upto: int | None = None) -> int:
        """Cumulative flip rows in deltas after the last base — the size of
        the merge-on-read join side."""
        return self._footer_rows("flips", upto)

    def key_rows(self, upto: int | None = None) -> int:
        """Rows of the key set ``read_keys`` scans (base ∪ insert deltas),
        which is the table's row count: flips never add keys."""
        return self._footer_rows("inserts", upto, with_base=True)

    def compact(self, spark: SparkSession, meta: dict | None = None) -> int:
        """Fold base+deltas into a new base (Iceberg rewrite_data_files)."""
        return self.write(self.read(spark), {**(meta or {}), "op": "compact"})


class Lakehouse:
    """The engine's table set rooted at one directory (FIXTURES.md A3-A6)."""

    TABLES = ("frontier", "crawled", "wave_metrics", "seen_bloom")
    _KINDS = {"crawled": "delta", "wave_metrics": "delta"}

    # crawled rows route into month partitions (S3 monthly-index parity)
    _PARTITIONS = {"crawled": ["month"]}

    def __init__(self, root: str):
        self.root = root
        Path(root).mkdir(parents=True, exist_ok=True)
        self.manifest = Manifest(Path(root) / "manifest.json")
        for t in self.TABLES:
            if t == "frontier":
                setattr(self, t, MorTable(root, t, manifest=self.manifest))
            else:
                setattr(self, t, SnapshotTable(
                    root, t, kind=self._KINDS.get(t, "full"),
                    partition_by=self._PARTITIONS.get(t), manifest=self.manifest,
                ))

    def transaction(self):
        """Context manager: every table commit inside publishes together
        (``Manifest.transaction``); a nested call, or a thread started by
        ``Manifest.concurrently``, joins the outer one."""
        return self.manifest.transaction()

    def describe(self) -> dict:
        return {
            t: getattr(self, t).latest_version for t in self.TABLES
        }


def with_host_salt(df: DataFrame, host_col: str = "host", buckets: int = 64) -> DataFrame:
    """Skew salt: stable bucket of the host hash (north_rule). Used as the
    frontier's physical partitioning key so one mega-domain spreads over
    many tasks for *hashing* work while politeness still aggregates on the
    raw host column."""
    return df.withColumn("host_salt", (F.pmod(F.xxhash64(F.col(host_col)), F.lit(buckets))).cast("int"))
