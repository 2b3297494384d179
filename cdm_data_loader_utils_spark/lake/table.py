"""A minimal transactional lake-table format built from scratch on PySpark.

The reference writes Delta tables and relies on the Delta log for MERGE,
schema-merge-on-append, history-based commit checks, OPTIMIZE and VACUUM
(``/root/reference/src/cdm_data_loader_utils/utils/spark_delta.py:135-224``,
``audit/checkpoint.py:42-60``, ``audit/run.py:27-30``,
``parsers/refseq_pipeline/core/spark_delta.py:95-157``). No Delta/Iceberg jar
ships in this environment, so this module re-implements the *table format
itself* from first principles — the same design space as Iceberg v2:

* an append-only **snapshot log** of JSON manifest files under ``_log/``,
  committed atomically (create-exclusive, optimistic concurrency);
* immutable **parquet data files** under ``data/``, hash-bucketed by a key
  column so a CDC MERGE only rewrites the buckets that contain changed keys
  (copy-on-write, Iceberg-style file-level pruning);
* **tombstones** (hidden ``__deleted`` flag) so deletes remain visible to
  late out-of-order events — final state is independent of how events are
  batched, which is what makes N-core vs 4N-core replays converge;
* **schema evolution** as metadata: each file remembers the schema it was
  written with; reads align every file group to the current schema (missing
  columns become typed nulls, widened columns are cast);
* **commit fencing**: each commit may carry a fence key
  (``run_id:batch_id``); replayed micro-batches are skipped — the
  exactly-once half of the foreachBatch contract. The fence is re-checked on
  every optimistic-retry attempt, so two racing writers with the same fence
  key apply the batch exactly once.

Scale notes (100 TB / 10^10 events): all data movement is executor-side
DataFrame work; the driver touches only file *names* (O(files-per-commit)),
routed through the pluggable filesystem layer (:mod:`.fs`) so the same code
runs on POSIX paths, ``hdfs://`` and ``s3a://`` URIs. Data files are written
directly to their final immutable commit directory (no staging renames — the
pattern object-store committers require), and per-file row counts come from a
metadata-only Spark count job (zero data columns scanned), never from
driver-side footer reads. MERGE cost is bounded by the bucket fan-in of the
incoming key set, not table size. At 1000 executors the bucket count is the
knob (``bucket_count`` ≫ executor count); the snapshot log stays O(commits)
and is trivially compacted by ``expire_snapshots``.
"""

from __future__ import annotations

import json
import posixpath
import time
import uuid
from dataclasses import dataclass, replace as _dc_replace
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fs import (
    LocalFilesystem,
    VersionedJsonLog,
    filesystem_for,
    is_uri,
    read_json_with_retry,
)

# hidden columns carried in data files but excluded from user reads
META_LSN = "__lsn"
META_DELETED = "__deleted"
_META_COLS = (META_LSN, META_DELETED)

def _view_parts(view_name: str) -> list[str]:
    """``db.view`` name split with >2-part collapsing (``a.b.c`` → ``a_b``,
    ``c``) — the ONE place the rule lives, so create/drop/status paths can
    never address different objects."""
    parts = view_name.split(".")
    if len(parts) > 2:
        parts = ["_".join(parts[:-1]), parts[-1]]
    return parts


def _q_ident(ident: str) -> str:
    return "`" + ident.replace("`", "``") + "`"


def _view_ident(view_name: str) -> str:
    """Fully-quoted SQL identifier for a :meth:`LakeTable.to_view` name."""
    return ".".join(_q_ident(p) for p in _view_parts(view_name))


_LOG_DIR = "_log"
_MANIFEST_DIR = "_log/manifests"
_DATA_DIR = "data"
_BUCKET_COL = "__bucket"
# manifest key for files with no bucket (unbucketed tables)
_NO_BUCKET = "u"

# max distinct incoming keys the MERGE existence probe will broadcast; above
# this (or when unknown) it falls back to a shuffled semi-join — a 2%-of-table
# batch at 10^10 rows must never be collected to the driver
BROADCAST_PROBE_MAX_ROWS = 1_000_000

# a MERGE batch with at least this many rows per candidate target row is
# "dense": the existence probe would hit (almost) every candidate file, so it
# is skipped and every candidate is rewritten
DENSE_PROBE_RATIO = 0.02

# widening lattice for schema evolution (reference analogue: mergeSchema=true
# appends, utils/spark_delta.py:195-196)
_WIDEN: dict[tuple[str, str], str] = {
    ("integer", "long"): "long",
    ("short", "integer"): "integer",
    ("short", "long"): "long",
    ("byte", "short"): "short",
    ("byte", "integer"): "integer",
    ("byte", "long"): "long",
    ("float", "double"): "double",
    ("integer", "double"): "double",
    ("long", "double"): "double",
}


class CommitConflictError(RuntimeError):
    """Another writer committed the same snapshot version first."""


class SchemaEvolutionError(ValueError):
    """Incoming schema cannot be reconciled with the table schema."""


@dataclass(frozen=True)
class FileEntry:
    path: str  # relative to table root
    bucket: int | None
    schema_id: int
    rows: int
    # per-column value range for scan-time file skipping:
    # {col: [min_enc, max_enc]} — encoded via _encode_stat (order-isomorphic
    # JSON scalars); a null bound means unbounded on that side. None = no
    # stats collected for this file (pre-stats commits stay readable).
    stats: dict | None = None

    def to_json(self) -> dict:
        d = {"path": self.path, "bucket": self.bucket,
             "schema_id": self.schema_id, "rows": self.rows}
        if self.stats:
            d["stats"] = self.stats
        return d

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(d["path"], d.get("bucket"), d["schema_id"],
                         d.get("rows", -1), d.get("stats"))


# ---------------------------------------------------------------- file stats
# Column types whose per-file min/max are collected by default in the same
# executor-side job that already counts rows per file. Fixed-width types only
# — a giant text column would turn the metadata job into a full text scan;
# string/decimal columns opt in via the "stats.columns" table property.
_STATS_DEFAULT_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.BooleanType,
    T.TimestampType, T.TimestampNTZType, T.DateType,
)
# Longest string prefix kept as a bound. A truncated MIN is still a valid
# lower bound; a truncated MAX is NOT a valid upper bound, so it is dropped
# (unbounded above) — same safe-truncation rule as Iceberg's.
_STATS_STR_PREFIX = 64
# Stats format version, stored inside each file's stats dict under this key.
# v2 = NTZ bounds encoded on the tz-free fixed-width path; v1 (no marker)
# NTZ bounds may be session-tz-shifted and are never used for pruning.
_STATS_VERSION_KEY = "__v"
_STATS_VERSION = 2


def _stats_columns(schema: T.StructType, properties: dict | None) -> list[T.StructField]:
    import warnings

    extra = set((properties or {}).get("stats.columns") or [])
    out = []
    for f in schema.fields:
        if isinstance(f.dataType, _STATS_DEFAULT_TYPES) or f.name in extra:
            if isinstance(f.dataType, (T.StringType, *_STATS_DEFAULT_TYPES)):
                out.append(f)
            else:
                # an opt-in the stats layer cannot honor must be LOUD — a
                # silently ignored stats.columns entry reads as "pruning is
                # on" while every scan stays full
                warnings.warn(
                    f"stats.columns entry {f.name!r} has unsupported type "
                    f"{f.dataType.simpleString()}; no min/max collected",
                    stacklevel=3,
                )
    # same LOUD rule for entries naming no schema field at all (typos): the
    # user believes pruning is enabled while no stats are being collected
    for name in sorted(extra - {f.name for f in schema.fields}):
        warnings.warn(
            f"stats.columns entry {name!r} names no column in the table "
            f"schema; no min/max collected",
            stacklevel=3,
        )
    return out


def _stat_bound_expr(f: T.StructField, agg) -> F.Column:
    """JVM-side, session-timezone-independent encoding of a min/max bound:
    instants → true epoch micros, wall-clock (NTZ) → fixed-format string
    (order-isomorphic), dates → epoch days, strings → safe prefix."""
    c = agg(f.name)
    if isinstance(f.dataType, T.TimestampType):
        return F.unix_micros(c)
    if isinstance(f.dataType, T.TimestampNTZType):
        # format the NTZ wall clock itself with a genuinely tz-FREE path:
        # date_format would insert an analyzer NTZ→TIMESTAMP cast that runs
        # through the session timezone, and a wall-clock value inside a DST
        # spring-forward gap of a non-UTC session tz would shift by an hour
        # — an unsound prune bound. CAST(ntz AS STRING) formats the stored
        # fields directly (no timezone exists on the type); the fractional
        # part is then right-padded to fixed 6 digits so the encoding is
        # lexicographically order-isomorphic AND exactly matches the
        # fixed-width literal encoding in _encode_pred_value (a trimmed
        # ".5" vs a padded ".500000" would break equality boundaries).
        s = c.cast("string")
        enc = F.concat(
            F.substring(s, 1, 19),
            F.lit("."),
            F.rpad(
                F.when(s.contains("."), F.substring_index(s, ".", -1))
                .otherwise(F.lit("")),
                6, "0",
            ),
        )
        # the fixed-width encoding is order-isomorphic ONLY for 4-digit
        # years: Spark renders year 10000 as '+10000-…' (sorts BELOW '2…')
        # and year -1 as '-0001-…' (negative years sort reversed), so an
        # out-of-range value would produce a CORRUPT bound and an unsound
        # skip. Emit NULL (= unbounded on that side) instead — the file is
        # then never skipped on this column, which is always safe.
        return F.when(F.year(c).between(1, 9999), enc)
    if isinstance(f.dataType, T.DateType):
        return F.unix_date(c)
    if isinstance(f.dataType, T.StringType):
        return F.substring(c, 1, _STATS_STR_PREFIX + 1)
    return c


def _encode_stat(v):
    """Fallback encoder for predicate literals on columns whose stats are
    already JSON scalars (numbers, bools, strings). Temporal columns go
    through :func:`_encode_pred_value`, which knows the column TYPE —
    required because instants and wall-clock values encode differently."""
    import datetime

    if v is None:
        return None
    if isinstance(v, datetime.datetime):
        # exact integer arithmetic — float .timestamp()*1e6 is off by ±1µs
        # for ~1.3% of pre-1970/far-future microsecond values, which would
        # make a boundary file-skip unsound
        if v.tzinfo is None:
            epoch = datetime.datetime(1970, 1, 1)
        else:
            epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (v - epoch) // datetime.timedelta(microseconds=1)
    if isinstance(v, datetime.date):
        return v.toordinal()
    return v


def _encode_pred_value(v, dtype: T.DataType | None, session_tz: str | None):
    """Encode a predicate literal into the SAME space `_stat_bound_expr` used
    for the column's stats. Returns None when the comparison would be
    ambiguous (e.g. tz-aware literal vs wall-clock column) — the caller then
    conservatively refuses to prune and lets the residual filter decide."""
    import datetime

    if v is None:
        return None
    if isinstance(dtype, T.DateType):
        if isinstance(v, datetime.datetime):
            v = v.date()
        if isinstance(v, datetime.date):
            return (v - datetime.date(1970, 1, 1)).days
        return None
    if isinstance(dtype, T.TimestampNTZType):
        if isinstance(v, datetime.datetime) and v.tzinfo is None:
            # %Y does NOT zero-pad years < 1000 on this platform ('999-…'),
            # while the stats bounds from CAST(ntz AS STRING) are 4-digit
            # padded — an unpadded literal would sort ABOVE every padded
            # bound and produce an unsound skip
            return (f"{v.year:04d}-{v:%m-%d %H:%M:%S}"
                    f".{v.microsecond:06d}")
        return None
    if isinstance(dtype, T.TimestampType):
        if not isinstance(v, datetime.datetime):
            return None
        if v.tzinfo is None:
            # A naive literal against an INSTANT column is ambiguous:
            # PySpark converts it via the DRIVER's OS timezone (not the
            # session timezone), a machine-dependent interpretation the
            # pruner must not guess at — one wrong guess silently drops
            # matching files (verified: session tz ≠ OS tz flips the
            # boundary). Refuse to prune; the residual filter decides.
            # Pass a tz-AWARE datetime to get pruning on instant columns.
            return None
        epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        # exact integer micros (float .timestamp() is ±1µs off pre-1970)
        return (v - epoch) // datetime.timedelta(microseconds=1)
    return _encode_stat(v)


def _file_skippable(
    stats: dict | None,
    where: list[tuple],
    types: dict[str, T.DataType] | None = None,
    session_tz: str | None = None,
) -> bool:
    """True iff the conjunctive predicate provably matches NO row of a file
    with these stats. Conservative: missing stats / unknown ops /
    un-encodable literals never skip. SQL three-valued logic makes skipping
    on value ranges safe for these ops (a NULL never satisfies
    <,<=,>,>=,=,in)."""
    if not stats:
        return False

    def enc(col, value):
        if types is not None and col in types:
            return _encode_pred_value(value, types[col], session_tz)
        return _encode_stat(value)

    for col, op, value in where:
        b = stats.get(col)
        if b is None or col == _STATS_VERSION_KEY:
            continue
        # NTZ bounds from stats format v1 were written through date_format's
        # session-tz cast (potentially shifted inside a DST gap) and are
        # byte-identical to sound v2 bounds — they must never prune. The
        # version marker makes the old bounds detectable.
        if (
            types is not None
            and isinstance(types.get(col), T.TimestampNTZType)
            and int(stats.get(_STATS_VERSION_KEY, 1)) < 2
        ):
            continue
        lo, hi = b[0], b[1]  # encoded; None = unbounded
        # a cross-type literal (e.g. "5" against int stats) must fall back
        # to the residual filter (which casts), never crash the read
        try:
            if op == "in":
                members = list(value)
                if not members:
                    return True  # IN () matches nothing
                vals = [enc(col, x) for x in members]
                if any(x is None for x in vals):
                    continue  # un-encodable member → cannot prove disjoint
                if all(
                    (lo is not None and x < lo) or (hi is not None and x > hi)
                    for x in vals
                ):
                    return True
                continue
            v = enc(col, value)
            if v is None:
                continue  # NULL / un-encodable literal: residual filter decides
            if op == "=" and (
                (lo is not None and v < lo) or (hi is not None and v > hi)
            ):
                return True
            if op == "<" and lo is not None and lo >= v:
                return True
            if op == "<=" and lo is not None and lo > v:
                return True
            if op == ">" and hi is not None and hi <= v:
                return True
            if op == ">=" and hi is not None and hi < v:
                return True
        except TypeError:
            continue  # incomparable encodings: conservative keep
    return False


def _where_lit(value, dtype: T.DataType | None):
    """Literal for the residual ``where`` filter, typed so its comparison
    semantics MATCH the stats pruner's. A naive datetime against an NTZ
    column must compare as a wall clock: a bare ``F.lit(naive)`` becomes a
    TIMESTAMP (instant) literal via the DRIVER's OS timezone and drags the
    NTZ column through a session-tz cast — both machine-dependent, and
    either can disagree with the pruner's tz-free wall-clock bound (an
    unsound prune). Route it through a string → TIMESTAMP_NTZ cast, which
    parses the wall-clock fields verbatim."""
    import datetime

    if (
        isinstance(dtype, T.TimestampNTZType)
        and isinstance(value, datetime.datetime)
        and value.tzinfo is None
    ):
        return F.lit(
            f"{value.year:04d}-{value:%m-%d %H:%M:%S}"
            f".{value.microsecond:06d}"
        ).cast(T.TimestampNTZType())
    return F.lit(value)


def _where_to_column(
    where: list[tuple], types: dict[str, T.DataType] | None = None
) -> F.Column:
    ops = {
        "=": lambda c, v: c == v,
        "!=": lambda c, v: c != v,
        "<": lambda c, v: c < v,
        "<=": lambda c, v: c <= v,
        ">": lambda c, v: c > v,
        ">=": lambda c, v: c >= v,
    }
    out = None
    for col, op, value in where:
        dtype = (types or {}).get(col)
        if op == "in":
            cond = F.col(col).isin(*[_where_lit(v, dtype) for v in value])
        elif op in ops:
            cond = ops[op](F.col(col), _where_lit(value, dtype))
        else:
            raise ValueError(
                f"unsupported predicate op {op!r}; one of {sorted(ops) + ['in']}"
            )
        out = cond if out is None else (out & cond)
    return out if out is not None else F.lit(True)


def _schema_json(schema: T.StructType) -> str:
    return schema.json()


def _schema_from_json(s: str) -> T.StructType:
    return T.StructType.fromJson(json.loads(s))


def _bucket_from_rel(rel: str) -> int | None:
    """Bucket id encoded in a file's partition directory, if any."""
    for comp in rel.split("/"):
        if comp.startswith(f"{_BUCKET_COL}="):
            return int(comp.split("=", 1)[1])
    return None


class LakeTable:
    """Versioned, bucketed, MERGE-capable table over parquet + JSON log.

    ``path`` may be a plain local path or any filesystem URI Spark's Hadoop
    classpath can mount (``file://``, ``hdfs://``, ``s3a://`` …); driver-side
    metadata ops route through :mod:`.fs` accordingly.
    """

    def __init__(self, spark: SparkSession, path: str, fs=None):
        self.spark = spark
        self.fs = fs if fs is not None else filesystem_for(spark, path)
        self.path = self.fs.normalize(path)
        # plain path component of the root, for input_file_name() mapping
        self._root_fs_path = self.fs.fs_path(self.path)

    # ------------------------------------------------------------- creation
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        bucket_by: str | None = None,
        bucket_count: int = 16,
        properties: dict | None = None,
        fs=None,
    ) -> "LakeTable":
        t = cls(spark, path, fs=fs)
        t.fs.mkdirs(t.fs.join(t.path, _LOG_DIR))
        t.fs.mkdirs(t.fs.join(t.path, _MANIFEST_DIR))
        t.fs.mkdirs(t.fs.join(t.path, _DATA_DIR))
        if t._latest_version() is not None:
            raise FileExistsError(f"table already exists at {path}")
        # nullability is a validated constraint, not a storage property (the
        # reference re-validates it too — validation/df_nullable_fields.py:17-22)
        schema = T.StructType(
            [T.StructField(f.name, f.dataType, nullable=True) for f in schema.fields]
        )
        snap = {
            "format_version": 2,  # v2 = per-bucket manifests (v1 inlined files)
            "snapshot_id": 1,
            "parent_id": None,
            "timestamp_ms": int(time.time() * 1000),
            "operation": "create",
            "current_schema_id": 0,
            "schemas": {"0": _schema_json(schema)},
            "bucket_by": bucket_by,
            "bucket_count": bucket_count if bucket_by else None,
            # bucket-key → immutable manifest file (the file LIST lives in
            # per-bucket manifests, not inline: a commit that touches k
            # buckets writes k manifests + one O(bucket_count) snapshot —
            # never an O(total-files) blob. Same split as Iceberg's
            # manifest-list / manifest layering.
            "manifests": {},
            "fences": {},
            "summary": {},
            "properties": properties or {},
        }
        try:
            t._commit(snap)
        except CommitConflictError as e:
            # two writers raced the FIRST commit: surface the same error the
            # pre-check gives, so callers (write_table) can load-and-continue
            raise FileExistsError(f"table already exists at {path}") from e
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str, fs=None) -> "LakeTable":
        t = cls(spark, path, fs=fs)
        if t._latest_version() is None:
            raise FileNotFoundError(f"no lake table at {path}")
        return t

    @classmethod
    def exists(cls, path: str, spark: SparkSession | None = None, fs=None) -> bool:
        if fs is None:
            if is_uri(path):
                if spark is None:
                    spark = SparkSession.getActiveSession()
                if spark is None:
                    raise ValueError(
                        f"a SparkSession is required to check a URI path "
                        f"({path}); pass spark= or fs= explicitly"
                    )
                fs = filesystem_for(spark, path)
            else:
                fs = LocalFilesystem()
        log = fs.join(fs.normalize(path), _LOG_DIR)
        return any(
            f.startswith("v") and f.endswith(".json") for f in fs.list_names(log)
        )

    # ------------------------------------------------------------ log access
    @property
    def _log(self) -> VersionedJsonLog:
        log = getattr(self, "_log_handle", None)
        if log is None:
            log = self._log_handle = VersionedJsonLog(
                self.fs, self.fs.join(self.path, _LOG_DIR)
            )
        return log

    def _log_path(self, version: int) -> str:
        return self._log.path(version)

    def _latest_version(self) -> int | None:
        return self._log.latest_version()

    def _versions(self) -> list[int]:
        return self._log.versions()

    def snapshot(self, snapshot_id: int | None = None,
                 as_of_timestamp_ms: int | None = None,
                 tag: str | None = None) -> dict:
        """Current snapshot, or time travel by id, by timestamp, or by a
        named :meth:`tag`.

        ``as_of_timestamp_ms`` resolves to the LATEST snapshot whose
        ``timestamp_ms`` ≤ the given instant — the same addressing Delta's
        history offers by version and timestamp (reference reads both,
        ``audit/run.py:64-114``)."""
        if tag is not None:
            if snapshot_id is not None or as_of_timestamp_ms is not None:
                raise ValueError(
                    "pass exactly one of snapshot_id / as_of_timestamp_ms / tag"
                )
            named = self.tags()
            if tag not in named:
                raise KeyError(
                    f"no tag {tag!r} on table at {self.path}; "
                    f"known: {sorted(named)}"
                )
            snapshot_id = named[tag]
        if as_of_timestamp_ms is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR as_of_timestamp_ms, not both")
            # newest-first with early stop: commit timestamps are monotone
            # (each snapshot stamps at commit time under a strictly
            # increasing version), so the FIRST hit walking backwards is the
            # answer — one JSON read in the common "recent timestamp" case,
            # never O(versions). A version expired between listing and read
            # is skipped, not fatal.
            for v in reversed(self._versions()):
                try:
                    s = self._log.read(v)
                except Exception:
                    # expired between list and read — on Hadoop stores this
                    # surfaces as a py4j-wrapped JVM exception, not Python's
                    # FileNotFoundError; either way skip to the next older
                    continue
                if s["timestamp_ms"] <= as_of_timestamp_ms:
                    return s
            raise FileNotFoundError(
                f"no snapshot at or before timestamp {as_of_timestamp_ms} "
                f"at {self.path}"
            )
        v = snapshot_id if snapshot_id is not None else self._latest_version()
        if v is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        return self._log.read(v)

    @property
    def snapshot_id(self) -> int:
        v = self._latest_version()
        assert v is not None
        return v

    def history(self) -> list[dict]:
        return [self.snapshot(v) for v in self._versions()]

    # ------------------------------------------------------------------ tags
    def _refs(self, create: bool = False) -> VersionedJsonLog:
        """Refs log handle. ``create=True`` only on WRITE paths (``tag``):
        pure reads — ``tags()`` from ``snapshot(tag=…)``, ``read(tag=…)``,
        ``expire_snapshots`` on untagged tables — must not pay a directory
        write (or fail on a read-only mount) just to learn there are no
        tags; ``list_names`` on the missing dir already yields []."""
        log = getattr(self, "_refs_log", None)
        if log is None:
            d = self.fs.join(self.path, _LOG_DIR, "refs")
            log = self._refs_log = VersionedJsonLog(self.fs, d)
        if create:
            self.fs.mkdirs(log.dir)
        return log

    def tags(self) -> dict[str, int]:
        """name → snapshot id for every named tag (Iceberg refs parity)."""
        log = self._refs()
        v = log.latest_version()
        if v is None:
            return {}
        return {k: int(s) for k, s in log.read(v)["tags"].items()}

    def tag(self, name: str, snapshot_id: int | None = None,
            replace: bool = False) -> int:
        """Give a snapshot a durable NAME (Iceberg tag / Delta
        point-in-time ref): ``read(tag="training-v3")`` reproduces the
        exact table state forever, because :meth:`expire_snapshots` never
        reclaims a tagged snapshot or its files — the retention lever for
        pinning a dataset version a downstream run must be able to
        re-read. Defaults to the current snapshot. Re-tagging the SAME id
        is a no-op; re-pointing an existing tag raises unless
        ``replace=True`` (same conflict rule as catalog names). CAS-safe
        against concurrent taggers."""
        sid = int(snapshot_id if snapshot_id is not None else self.snapshot_id)
        # fail fast on a dangling tag (expired or never-existing snapshot)
        self.snapshot(sid)
        log = self._refs(create=True)
        attempt = 0
        while True:
            v = log.latest_version() or 0
            cur = log.read(v)["tags"] if v else {}
            old = cur.get(name)
            if old is not None and int(old) == sid:
                return sid  # idempotent
            if old is not None and not replace:
                raise ValueError(
                    f"tag {name!r} already points at snapshot {old}; pass "
                    f"replace=True to move it to {sid}"
                )
            nxt = dict(cur)
            nxt[name] = sid
            try:
                log.write_exclusive(v + 1, {"tags": nxt})
                return sid
            except FileExistsError:
                if attempt >= 5:
                    raise
                time.sleep(0.05 * (2 ** attempt))
                attempt += 1

    def drop_tag(self, name: str) -> None:
        """Remove a tag; the snapshot becomes expirable again under the
        normal ``keep_last``/grace rules."""
        log = self._refs()
        attempt = 0
        while True:
            v = log.latest_version() or 0
            cur = log.read(v)["tags"] if v else {}
            if name not in cur:
                return
            nxt = {k: s for k, s in cur.items() if k != name}
            try:
                log.write_exclusive(v + 1, {"tags": nxt})
                return
            except FileExistsError:
                if attempt >= 5:
                    raise
                time.sleep(0.05 * (2 ** attempt))
                attempt += 1

    def _commit(self, snap: dict) -> int:
        """Atomic create-exclusive commit — optimistic concurrency control."""
        try:
            sid = self._log.write_exclusive(snap["snapshot_id"], snap)
        except FileExistsError as e:
            raise CommitConflictError(
                f"snapshot {snap['snapshot_id']} already committed"
            ) from e
        self._refresh_live_views()
        return sid

    def _refresh_live_views(self) -> None:
        """Re-register every live (non-pinned) SQL view created through THIS
        table handle after a successful commit, so ``spark.sql`` users never
        read a stale file list. Commits from OTHER writers/processes still
        need :meth:`to_view` / :meth:`Catalog.register_views` re-run. A
        refresh failure must not fail the already-durable commit — it warns.

        Views whose visible state provably did not move — identical manifest
        map and schema id since the last registration (a properties-only or
        fence-only commit) — skip the O(directories) text regeneration."""
        import warnings

        names = list(getattr(self, "_live_views", ()))
        if not names:
            return
        try:
            snap = self.snapshot()
            sig = (
                tuple(sorted(self._require_v2(snap).items())),
                snap["current_schema_id"],
            )
        except Exception:  # noqa: BLE001 — v1 snapshot etc.: always refresh
            sig = None
        sigs = getattr(self, "_view_sig", None)
        if sigs is None:
            sigs = self._view_sig = {}
        stamps = getattr(self, "_view_stamp", None)
        if stamps is None:
            stamps = self._view_stamp = {}
        guarded = getattr(self, "_guarded_views", set())
        for name in names:
            try:
                # guarded views never take the stamp-only path: their text
                # embeds the pinned log version, and even a fence-only
                # commit advances the log the read-time guard probes
                if sig is not None and name not in guarded and \
                        sigs.get(name) == sig and \
                        self._owns_view(name, stamps.get(name)):
                    # visible state unchanged (fence/properties-only
                    # commit) — skip the O(directories) text regeneration,
                    # but still advance the freshness stamp or view_status
                    # would report this view stale forever. The ownership
                    # probe guards against stamping a view ANOTHER handle
                    # re-registered meanwhile (e.g. pinned over this name):
                    # advancing a pinned view's stamp would make
                    # view_status call stale text current.
                    self.spark.sql(
                        f"ALTER VIEW {_view_ident(name)} SET TBLPROPERTIES "
                        f"('lake.snapshot_id'='{int(snap['snapshot_id'])}')"
                    )
                    stamps[name] = int(snap["snapshot_id"])
                    continue
                self._register_view(name, None,
                                    assert_current=name in guarded)
                if sig is not None:
                    sigs[name] = sig
            except Exception as e:  # noqa: BLE001 — commit is already durable
                warnings.warn(
                    f"auto-refresh of SQL view {name!r} failed: {e}",
                    stacklevel=2,
                )

    def _owns_view(self, name: str, expected_stamp: int | None) -> bool:
        """Does the session view still carry the snapshot stamp THIS handle
        last wrote? False ⇒ another handle re-registered it (we fall back
        to a full re-register, the same clobber semantics a data commit
        has always had) — one catalog lookup, no filesystem access."""
        if expected_stamp is None:
            return False
        try:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {_view_ident(name)}"
            ).collect()
        except Exception:  # noqa: BLE001 — view gone ⇒ re-register
            return False
        props = {r["key"]: r["value"] for r in rows}
        return props.get("lake.snapshot_id") == str(expected_stamp) and \
            props.get("lake.path") == self.path

    # ------------------------------------------------------------ manifests
    def _write_manifest(self, entries: list[FileEntry]) -> str:
        """Persist one immutable per-bucket manifest; returns its name."""
        name = f"m-{uuid.uuid4().hex[:16]}.json"
        self.fs.write_text_exclusive(
            self.fs.join(self.path, _MANIFEST_DIR, name),
            json.dumps([fe.to_json() for fe in entries]),
        )
        return name

    def _read_manifest(self, name: str) -> list[FileEntry]:
        """Manifests are immutable → cache per table handle (bounded: a
        long-lived streaming handle sees a new manifest per touched bucket
        per batch)."""
        cache = getattr(self, "_manifest_cache", None)
        if cache is None:
            cache = self._manifest_cache = {}
        if len(cache) > 8192:
            cache.clear()
        if name not in cache:
            doc = read_json_with_retry(
                self.fs, self.fs.join(self.path, _MANIFEST_DIR, name)
            )
            cache[name] = [FileEntry.from_json(d) for d in doc]
        return cache[name]

    def files(self, snapshot: dict | int | None = None) -> list[FileEntry]:
        """All live data files of a snapshot (reads its manifests).

        Format-v1 snapshots (inline ``files`` list, pre-manifest) remain
        READABLE; writes to them raise a clear migration error instead of a
        KeyError (see :meth:`_require_v2`)."""
        snap = (
            snapshot
            if isinstance(snapshot, dict)
            else self.snapshot(snapshot)
        )
        if "manifests" not in snap:
            return [FileEntry.from_json(d) for d in snap.get("files", [])]
        out: list[FileEntry] = []
        for name in snap["manifests"].values():
            out.extend(self._read_manifest(name))
        return out

    @staticmethod
    def _require_v2(snap: dict) -> dict[str, str]:
        if "manifests" not in snap:
            raise RuntimeError(
                "snapshot uses legacy format v1 (inline file list); it is "
                "readable but not writable by this version — migrate with "
                "write_table(spark, new_path, old_table.read())"
            )
        return snap["manifests"]

    def _manifests_from_entries(
        self, entries: list[FileEntry]
    ) -> dict[str, str]:
        """Group entries per bucket and write one manifest each."""
        groups: dict[str, list[FileEntry]] = {}
        for fe in entries:
            groups.setdefault(
                _NO_BUCKET if fe.bucket is None else str(fe.bucket), []
            ).append(fe)
        return {k: self._write_manifest(v) for k, v in groups.items()}

    # -------------------------------------------------------------- schema
    def schema(self, snapshot: dict | None = None) -> T.StructType:
        snap = snapshot or self.snapshot()
        return _schema_from_json(snap["schemas"][str(snap["current_schema_id"])])

    @property
    def user_schema(self) -> T.StructType:
        return T.StructType([f for f in self.schema().fields if f.name not in _META_COLS])

    # --------------------------------------------------------------- reads
    def read(
        self,
        snapshot_id: int | None = None,
        include_meta: bool = False,
        where: list[tuple] | None = None,
        as_of_timestamp_ms: int | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Current (or time-travel) state as a DataFrame.

        Files are grouped by the schema they were written with, each group is
        read with its exact schema, aligned to the current schema (typed-null
        fill for added columns, cast for widened ones) and unioned. Tombstoned
        rows are filtered out unless ``include_meta``.

        ``where`` is a conjunctive list of ``(column, op, value)`` predicates
        (ops ``= != < <= > >= in``). It is BOTH applied as a real filter on
        the result (correctness never depends on pruning) and used to skip
        whole files whose per-file min/max stats provably exclude every
        predicate match — the Iceberg/Delta data-skipping read path, so a
        ``("ts", ">=", X)`` scan of a sorted table touches only the matching
        tail instead of every live file. Inspect the decision with
        :meth:`plan_files`.
        """
        snap = self.snapshot(
            snapshot_id, as_of_timestamp_ms=as_of_timestamp_ms, tag=tag
        )
        cur = self.schema(snap)
        groups: dict[int, list[str]] = {}
        for fe in self._split_files(snap, where)[0]:
            groups.setdefault(fe.schema_id, []).append(self.fs.join(self.path, fe.path))
        parts: list[DataFrame] = []
        for sid, paths in groups.items():
            file_schema = _schema_from_json(snap["schemas"][str(sid)])
            df = self.spark.read.schema(file_schema).parquet(*paths)
            parts.append(_align_to_schema(df, cur))
        if parts:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = self.spark.createDataFrame([], cur)
        if where:
            out = out.filter(_where_to_column(
                where, {f.name: f.dataType for f in cur.fields}
            ))
        if not include_meta:
            has_del = META_DELETED in out.columns
            if has_del:
                out = out.filter(~F.coalesce(F.col(META_DELETED), F.lit(False)))
            out = out.drop(*[c for c in _META_COLS if c in out.columns])
        return out

    # ----------------------------------------------------------- SQL surface
    def as_sql(self, snapshot_id: int | None = None,
               include_meta: bool = False,
               assert_current: bool = False) -> str:
        """The snapshot's state as one self-contained SQL SELECT over native
        ``parquet.`file``` scans — same schema alignment and tombstone
        filtering as :meth:`read`, but expressible as a catalog VIEW so
        downstream users query the table by NAME in plain ``spark.sql``
        (reference parity: ``register_table_and_view``,
        ``parsers/gene_association_file.py:225-242``,
        ``core/spark_delta.py:160-175``).

        The file list is pinned at generation time (a VIEW stores text, not a
        live log pointer). Views registered via :meth:`to_view` on THIS
        table object auto-refresh after every commit; for other writers'
        commits re-run :meth:`to_view` / :meth:`Catalog.register_views`, and
        keep ``expire_snapshots`` grace ≥ the refresh cadence so a pinned
        view never loses files mid-query."""
        snap = self.snapshot(snapshot_id)
        cur = self.schema(snap)
        out_fields = [
            f for f in cur.fields if include_meta or f.name not in _META_COLS
        ]

        def q(ident: str) -> str:
            return "`" + ident.replace("`", "``") + "`"

        # chars Hadoop globbing treats specially inside a brace alternation
        # (plus backtick, which SQL path quoting cannot escape)
        _GLOB_CHARS = set("{}[]*?,\\`")
        root = self.path.rstrip("/") + "/"

        def guard_for(ref: str, rows: int, what: str) -> str:
            """Runtime completeness guard for a glob scan: a glob matching a
            SUBSET of what it should succeeds silently (a per-file ref fails
            loudly at analysis), and a DIRECTORY glob can also pick up files
            a later operation unreferenced. The scalar-subquery assert turns
            both into loud errors. count(*) over parquet materializes no
            columns — near-metadata cost."""
            return (
                f"(SELECT assert_true(count(*) = {rows}, "
                f"'lake view is stale: expected {rows} rows across "
                f"{what} — a pinned file is missing/truncated or an "
                f"unreferenced file appeared; re-register the view') "
                f"FROM {ref}) IS NULL"
            )

        # Directory-cleanliness probe with a handle-level cache, so the
        # live-view auto-refresh on the COMMIT hot path lists only the
        # directories it has never verified — O(dirs touched by this
        # commit), not O(all files on disk). Commit dirs are immutable
        # (files only ever REMOVED from a dir's referenced set, which
        # invalidates via _replace_entries), so a verified-clean entry
        # stays valid until a row-op touches it. Paths from walk_files are
        # normalized through _uri_to_rel so Hadoop listings
        # (fully-qualified, possibly percent-encoded URIs) compare equal
        # to manifest-relative paths — a raw string compare would silently
        # disable the directory-glob form on exactly the object-store
        # deployments it targets. Divergence the cache could ever miss
        # (another PROCESS orphaning a file) is caught loudly by the
        # row-count guard, and an explicit to_view() clears the cache (the
        # documented re-register heal path).
        cache = getattr(self, "_clean_dirs", None)
        if cache is None:
            cache = self._clean_dirs = {}
        if len(cache) > 4096:
            cache.clear()

        def dir_clean(d: str, expected: frozenset) -> bool:
            known = cache.get(d)
            if known is not None:
                return known == expected
            try:
                disk = frozenset(
                    rel for f in self.fs.walk_files(self.fs.join(self.path, d))
                    if (rel := self._uri_to_rel(f)).endswith(".parquet")
                )
            except Exception:  # noqa: BLE001 — listing failure ⇒ fall back
                return False
            if disk == expected:
                cache[d] = disk
                return True
            return False  # orphans present: re-probe next time (expire heals)

        def group_refs(
            entries: list[tuple[str, int]]
        ) -> list[tuple[str, str | None]]:
            """(scan ref, guard) list for one schema group — at most two.
            ``entries`` carry root-relative manifest paths.

            Preferred form keeps the view text O(data directories), i.e.
            O(buckets × commits-since-compact), independent of files per
            bucket: every commit writes its files under a fresh
            ``data/<uid>[/__bucket=N]`` leaf directory, so a directory whose
            on-disk ``*.parquet`` set exactly equals the manifest's entries
            for it is referenced as ONE ``dir/*.parquet`` glob member. All
            qualifying directories share a single brace-glob scan node.

            Directories that fail the equality probe (a row-op left an
            unreferenced file awaiting ``expire_snapshots``, zero-row
            straggler parts, glob metacharacters in the path, legacy
            entries without row counts) fall back to the per-FILE brace
            glob — still one scan node — or, if even that is unsafe, loud
            per-file refs. Guards make any disk/manifest divergence a
            runtime error, never a silent partial result."""
            if len(entries) == 1:
                return [(f"parquet.`{root}{entries[0][0]}`", None)]
            by_dir: dict[str, list[tuple[str, int]]] = {}
            for p, r in entries:
                by_dir.setdefault(posixpath.dirname(p), []).append((p, r))
            dir_rels: list[str] = []
            dir_rows = dir_files = 0
            leftover: list[tuple[str, int]] = []
            for d, items in sorted(by_dir.items()):
                ok = (
                    bool(d)
                    and not (_GLOB_CHARS & set(d))
                    and all(r >= 0 for _, r in items)
                    and dir_clean(d, frozenset(p for p, _ in items))
                )
                if ok:
                    dir_rels.append(d)
                    dir_rows += sum(r for _, r in items)
                    dir_files += len(items)
                else:
                    leftover.extend(items)
            out: list[tuple[str, str | None]] = []
            if dir_rels:
                if len(dir_rels) == 1:
                    ref = f"parquet.`{root}{dir_rels[0]}/*.parquet`"
                else:
                    ref = (
                        f"parquet.`{root}{{{','.join(dir_rels)}}}/*.parquet`"
                    )
                out.append((ref, guard_for(
                    ref, dir_rows,
                    f"{dir_files} files in {len(dir_rels)} directories",
                )))
            if leftover:
                rels = sorted(p for p, _ in leftover)
                globbable = all(not (_GLOB_CHARS & set(p)) for p in rels)
                rows_known = all(r >= 0 for _, r in leftover)
                if len(rels) == 1 or not globbable or not rows_known:
                    out.extend((f"parquet.`{root}{p}`", None) for p in rels)
                else:
                    ref = f"parquet.`{root}{{{','.join(rels)}}}`"
                    out.append((ref, guard_for(
                        ref, sum(r for _, r in leftover),
                        f"{len(rels)} files",
                    )))
            return out

        groups: dict[int, list[tuple[str, int]]] = {}
        for fe in self.files(snap):
            groups.setdefault(fe.schema_id, []).append((fe.path, fe.rows))
        has_del = META_DELETED in [f.name for f in cur.fields]
        selects: list[str] = []
        for sid, entries in groups.items():
            fschema = _schema_from_json(snap["schemas"][str(sid)])
            have = {f.name for f in fschema.fields}
            proj_fields = list(out_fields)
            if has_del and not include_meta:
                proj_fields = proj_fields + [
                    f for f in cur.fields if f.name == META_DELETED
                ]
            cols = ", ".join(
                (
                    f"CAST({q(f.name)} AS {f.dataType.simpleString()}) AS {q(f.name)}"
                    if f.name in have
                    else f"CAST(NULL AS {f.dataType.simpleString()}) AS {q(f.name)}"
                )
                for f in proj_fields
            )
            for ref, guard in group_refs(entries):
                where = f" WHERE {guard}" if guard else ""
                selects.append(f"SELECT {cols} FROM {ref}{where}")
        if not selects:
            cols = ", ".join(
                f"CAST(NULL AS {f.dataType.simpleString()}) AS {q(f.name)}"
                for f in out_fields
            )
            sql = f"SELECT {cols} FROM (SELECT 1 AS __dummy) WHERE 1=0"
        elif has_del and not include_meta:
            body = " UNION ALL ".join(selects)
            names = ", ".join(q(f.name) for f in out_fields)
            sql = (
                f"SELECT {names} FROM ({body}) "
                f"WHERE NOT coalesce({q(META_DELETED)}, false)"
            )
        else:
            body = " UNION ALL ".join(selects)
            sql = f"SELECT * FROM ({body})"
        if assert_current:
            sql = self._wrap_current_guard(sql, int(snap["snapshot_id"]), root)
        return sql

    def _wrap_current_guard(self, sql: str, sid: int, root: str) -> str:
        """Wrap a view body with a READ-TIME staleness assert: the pinned
        snapshot id must still be the table's LATEST log version when the
        query runs, else the read fails loudly instead of silently serving
        old-but-valid rows (the footgun :meth:`view_status` can only detect
        when asked). Latest is probed with one ``text.`` scan over the
        zero-padded snapshot log names — lexicographic max == numeric max —
        via the ``_metadata.file_name`` column: metadata-sized (the log
        keeps ``keep_last`` + grace-retained JSONs only), no data touched,
        and the glob always matches because the pinned snapshot's own JSON
        exists. Same assert_true-subquery shape as the row-count
        completeness guard."""
        expect = f"v{sid:020d}.json"
        guard = (
            f"(SELECT assert_true(max(_metadata.file_name) = '{expect}', "
            f"'lake view pins snapshot {sid} but the table has newer "
            f"commits; re-register it (to_view / Catalog.refresh_views)') "
            f"FROM text.`{root}{_LOG_DIR}/v*.json`) IS NULL"
        )
        return f"SELECT * FROM ({sql}) WHERE {guard}"

    def to_view(self, view_name: str, snapshot_id: int | None = None,
                tag: str | None = None,
                assert_current: bool = False) -> str:
        """Register this table (optionally a time-travel snapshot) as a SQL
        view: ``db.name`` creates the database in the session catalog. Returns
        the view identifier ready for ``spark.sql(f"SELECT … FROM {ident}")``.

        A view registered WITHOUT an explicit ``snapshot_id`` is LIVE for
        this table handle: every subsequent successful commit through this
        object re-registers it, so ``spark.sql`` reads never go stale
        (snapshot-pinned views stay pinned — that is their point).
        Re-registering an existing LIVE name WITH a pin demotes it to pinned
        (it leaves the auto-refresh set — otherwise the next commit would
        silently re-point the pinned view at latest). The pinned snapshot id
        is stamped as view property ``lake.snapshot_id`` (plus ``lake.path``)
        so any session-catalog reader can ask whether the view is current —
        see :meth:`view_status`. ``tag=`` pins to a named snapshot
        (expire-protected, so the view's files can never be reclaimed
        under it — the safe way to publish a dataset version).

        ``assert_current=True`` opts the view into a READ-TIME staleness
        guard: every query through it asserts the registered snapshot is
        still the table's latest, so a safety-critical reader FAILS LOUDLY
        (assert_true error naming the fix) after another handle or process
        commits, instead of silently reading old rows until someone calls
        :meth:`view_status`. Live guarded views re-register on this
        handle's own commits as usual (never taking the stamp-only fast
        path — a fence-only commit still advances the log the guard
        probes); the guard costs one metadata-sized ``text.`` scan of the
        snapshot log per query. The opt-in is stamped as view property
        ``lake.assert_current`` so :meth:`Catalog.refresh_views` preserves
        the guard when it re-points the view; re-registering through
        ``to_view`` without the flag disarms it."""
        if tag is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR tag, not both")
            snapshot_id = self.snapshot(tag=tag)["snapshot_id"]
        # explicit (re-)registration is the documented heal path after any
        # out-of-band disk change — verify directories afresh
        getattr(self, "_clean_dirs", {}).clear()
        guarded = getattr(self, "_guarded_views", None)
        if guarded is None:
            guarded = self._guarded_views = set()
        if assert_current:
            guarded.add(view_name)
        else:
            guarded.discard(view_name)
        ident = self._register_view(view_name, snapshot_id,
                                    assert_current=assert_current)
        live = getattr(self, "_live_views", None)
        if live is None:
            live = self._live_views = set()
        if snapshot_id is None:
            live.add(view_name)
        else:
            live.discard(view_name)
        return ident

    def drop_view(self, view_name: str) -> None:
        """Drop a SQL view registered through :meth:`to_view` AND remove it
        from this handle's live-refresh set, so a later commit cannot
        resurrect it (``DROP VIEW`` alone would: auto-refresh re-issues
        ``CREATE OR REPLACE`` after every commit)."""
        live = getattr(self, "_live_views", None)
        if live is not None:
            live.discard(view_name)
        getattr(self, "_view_sig", {}).pop(view_name, None)
        getattr(self, "_guarded_views", set()).discard(view_name)
        self.spark.sql(f"DROP VIEW IF EXISTS {_view_ident(view_name)}")

    @staticmethod
    def view_status(spark: SparkSession, view_name: str) -> dict:
        """Cross-handle/process freshness probe for a :meth:`to_view` view:
        reads the ``lake.snapshot_id`` / ``lake.path`` properties stamped at
        registration and compares against the table's CURRENT latest snapshot
        (one log-listing metadata read — no data touched). Returns
        ``{"path", "pinned_snapshot_id", "latest_snapshot_id", "current"}``;
        raises KeyError for views not created by :meth:`to_view`."""
        rows = spark.sql(
            f"SHOW TBLPROPERTIES {_view_ident(view_name)}"
        ).collect()
        props = {r["key"]: r["value"] for r in rows}
        if "lake.path" not in props or "lake.snapshot_id" not in props:
            raise KeyError(
                f"view {view_name!r} carries no lake.* properties — not "
                f"registered via LakeTable.to_view"
            )
        path = props["lake.path"]
        pinned = int(props["lake.snapshot_id"])
        latest = LakeTable.load(spark, path)._latest_version()
        return {
            "path": path,
            "pinned_snapshot_id": pinned,
            "latest_snapshot_id": latest,
            "current": latest == pinned,
        }

    def _register_view(self, view_name: str, snapshot_id: int | None,
                       assert_current: bool = False) -> str:
        parts = _view_parts(view_name)
        if len(parts) == 2:
            self.spark.sql(
                f"CREATE DATABASE IF NOT EXISTS {_q_ident(parts[0])}"
            )
        ident = _view_ident(view_name)
        # resolve "latest" ONCE so the stamped property and the generated
        # text describe the same snapshot even if a concurrent commit lands
        resolved = (
            snapshot_id if snapshot_id is not None else self._latest_version()
        )

        def esc(v: str) -> str:
            return v.replace("'", "''")

        guard_prop = (
            ", 'lake.assert_current'='true'" if assert_current else ""
        )
        props = (
            f"TBLPROPERTIES ('lake.snapshot_id'='{int(resolved)}', "
            f"'lake.path'='{esc(self.path)}'{guard_prop})"
        )
        self.spark.sql(
            f"CREATE OR REPLACE VIEW {ident} {props} AS "
            f"{self.as_sql(resolved, assert_current=assert_current)}"
        )
        stamps = getattr(self, "_view_stamp", None)
        if stamps is None:
            stamps = self._view_stamp = {}
        stamps[view_name] = int(resolved)
        return ident

    def plan_files(
        self,
        where: list[tuple] | None = None,
        snapshot_id: int | None = None,
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        """(scanned, skipped) file split a ``read(where=...)`` would make —
        the observability hook for bucket pruning and stats-based data
        skipping."""
        return self._split_files(self.snapshot(snapshot_id), where)

    def _split_files(
        self, snap: dict, where: list[tuple] | None
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        """(scanned, skipped): a file is skipped when its bucket cannot hold
        a key the ``where`` pins (:meth:`_where_buckets`) or its min/max
        stats provably exclude every predicate match."""
        files = self.files(snap)
        if not where:
            return files, []
        types = {f.name: f.dataType for f in self.schema(snap).fields}
        tz = self._session_tz()
        buckets = self._where_buckets(snap, where, files)
        scanned, skipped = [], []
        for fe in files:
            if (
                buckets is not None
                and fe.bucket is not None
                and fe.bucket not in buckets
            ) or _file_skippable(fe.stats, where, types, tz):
                skipped.append(fe)
            else:
                scanned.append(fe)
        return scanned, skipped

    def _where_buckets(
        self, snap: dict, where: list[tuple], files: list[FileEntry]
    ) -> set[int] | None:
        """Bucket ids that can hold a row matching ``where``, or None when
        no ``=``/``in`` predicate pins the ``bucket_by`` column.

        Only literals of the column's own Python type (``int`` for integral
        columns, ``str`` for strings) pin it: any other literal compares
        through a cast the hash does not model, so it never prunes. The ids
        come from :meth:`_bucket_expr` itself, projected over a local
        Arrow-built relation of the literals typed as the column (no Spark
        job), so reads and writes share one definition of the hash. Files
        written under an older type of the column (an int widened to long
        before such changes were rejected) hash differently, so their
        presence disables pruning."""
        col = snap.get("bucket_by")
        if not col:
            return None
        dtype = self.schema(snap)[col].dataType
        if isinstance(dtype, T.IntegralType):
            py_type = int
        elif isinstance(dtype, T.StringType):
            py_type = str
        else:
            return None
        pinned = [
            [value] if op == "=" else list(value)
            for c, op, value in where
            if c == col and op in ("=", "in")
        ]
        # `type(x) is int` also keeps bools (an int subclass) out
        pinned = [vs for vs in pinned if all(type(x) is py_type for x in vs)]
        if not pinned:
            return None
        for sid in {fe.schema_id for fe in files}:
            file_schema = _schema_from_json(snap["schemas"][str(sid)])
            if file_schema[col].dataType != dtype:
                return None
        literals = list({x for vs in pinned for x in vs})
        if not literals:
            return set()  # IN () matches nothing
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        try:
            arr = pa.array(literals, type=to_arrow_type(dtype))
        except (pa.ArrowException, OverflowError):
            return None  # out of the column's range: the residual filter decides
        rel = self.spark.createDataFrame(
            pa.table({col: arr}), schema=T.StructType([T.StructField(col, dtype)])
        )
        bucket_of = dict(
            rel.select(F.col(col), self._bucket_expr(snap)).collect()
        )
        # a matching row satisfies every predicate, so its bucket is in
        # each predicate's bucket set
        return set.intersection(*[{bucket_of[x] for x in vs} for vs in pinned])

    def _session_tz(self) -> str | None:
        try:
            return self.spark.conf.get("spark.sql.session.timeZone")
        except Exception:  # pragma: no cover
            return None

    def is_fenced(self, fence_key: str) -> int | None:
        """Snapshot id that already applied ``fence_key``, else None.

        Generalizes the reference's history-based no-double-apply check
        (``audit/run.py:27-30`` ``_table_not_updated``)."""
        snap = self.snapshot()
        v = snap["fences"].get(fence_key)
        return int(v) if v is not None else None

    # -------------------------------------------------------------- writes
    def _bucket_expr(self, snap: dict) -> F.Column | None:
        col = snap.get("bucket_by")
        if not col:
            return None
        n = int(snap["bucket_count"])
        return F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast("int")

    def _uri_to_rel(self, uri: str) -> str:
        """Map a Spark file URI (``input_file_name()`` / Hadoop Path string —
        possibly percent-encoded) to a table-root-relative path.

        Decodes before comparing so table roots containing spaces, ``%`` or
        non-ASCII characters resolve correctly (a raw-vs-encoded mismatch
        here silently turned every merge into an insert for such paths)."""
        parsed = urlparse(uri)
        p = unquote(parsed.path) if parsed.scheme else uri
        return posixpath.relpath(p, self._root_fs_path)

    def _write_files(self, df: DataFrame, snap: dict, schema_id: int,
                     n_partitions: int | None = None) -> list[FileEntry]:
        """Write df as immutable parquet files, hash-bucketed if configured.

        Files land directly in their final per-commit directory — no staging
        renames (renames are copies on object stores) and no driver-side
        footer reads: per-file row counts come from a metadata-only Spark
        count job (zero data columns → the parquet reader answers from row
        group headers, executor-side). Zero-row files simply never appear in
        the count output and are left unreferenced for ``expire_snapshots``.
        """
        commit_uid = uuid.uuid4().hex[:12]
        final_dir = self.fs.join(self.path, _DATA_DIR, commit_uid)
        bucket = self._bucket_expr(snap)
        props = snap.get("properties") or {}
        # table property overrides the session codec (throughput-vs-size
        # knob per table: snappy for hot CDC targets, zstd for cold archive)
        codec = props.get("write.compression")
        # clustered write order: range-partition on (bucket, sort keys) then
        # sort within partitions, so per-file key ranges are tight (and, for
        # a compaction, disjoint) — that is what makes the per-file min/max
        # stats below actually PRUNE on range scans (reference analogue:
        # OPTIMIZE ZORDER BY, core/spark_delta.py:144-150)
        sort_by: list[str] = list(props.get("write.sort_by") or [])
        sort_by = [c for c in sort_by if c in df.columns]
        sort_exprs: list[F.Column] = [F.col(c) for c in sort_by]
        zcols = list(props.get("write.zorder.by") or [])
        if zcols and all(c in df.columns for c in zcols):
            from .zorder import ZORDER_BITS, zorder_expr

            # the z-key is a pure expression over persisted bounds — never a
            # stored column; every write (append, merge rewrite, compaction)
            # clusters by it so the multi-dim locality survives new commits
            sort_exprs = [zorder_expr(
                df.schema,
                {c: props["write.zorder.bounds"][c] for c in zcols},
                int(props.get("write.zorder.bits") or ZORDER_BITS),
            )]
        if bucket is not None:
            dfb = df.withColumn(_BUCKET_COL, bucket)
            if sort_exprs:
                n_out = n_partitions or int(snap.get("bucket_count") or 16)
                dfb = dfb.repartitionByRange(
                    n_out, F.col(_BUCKET_COL), *sort_exprs
                ).sortWithinPartitions(F.col(_BUCKET_COL), *sort_exprs)
            else:
                # hash-partition by bucket id so each bucket lands in
                # exactly one task and gets exactly one file — otherwise
                # partitionBy writes (tasks × buckets) tiny files. One task
                # per core, not per bucket: each task writes its buckets'
                # files one after another, and a small commit no longer
                # pays a per-bucket task launch for a few rows
                n_out = min(
                    int(snap.get("bucket_count") or 16),
                    self.spark.sparkContext.defaultParallelism,
                )
                dfb = dfb.repartition(n_out, _BUCKET_COL)
            writer = dfb.write.partitionBy(_BUCKET_COL)
        else:
            dfu = df
            if sort_exprs and n_partitions:
                dfu = dfu.repartitionByRange(
                    n_partitions, *sort_exprs
                ).sortWithinPartitions(*sort_exprs)
            elif sort_exprs:
                dfu = dfu.repartitionByRange(
                    *sort_exprs
                ).sortWithinPartitions(*sort_exprs)
            elif n_partitions:
                # honor the caller's target width on unbucketed tables too —
                # compact() on one otherwise rewrites file-per-input-split
                # and never actually consolidates
                dfu = dfu.repartition(n_partitions)
            writer = dfu.write
        if codec:
            writer = writer.option("compression", codec)
        # per-table parquet bloom filters ("write.bloom.columns" property):
        # row-group-level point-lookup pruning for high-cardinality keys
        # whose min/max ranges are too wide to skip on (e.g. conv_id inside
        # a hash bucket) — the third pruning tier after buckets and stats.
        # SIZING MATTERS: parquet-mr clamps each bloom to
        # parquet.bloom.filter.max.bytes (default 1 MiB ≈ 1M NDV at 1% fpp);
        # past that the false-positive rate quietly degrades toward "never
        # skips". "write.bloom.ndv" (per-table expected distinct values per
        # row group) sizes the filter, and the byte cap is raised to match —
        # measured: an undersized bloom gave 0.94× (noise) on the point-
        # lookup bench, a sized one 3.4×.
        bloom_cols = props.get("write.bloom.columns") or []
        if bloom_cols:
            ndv = int(props.get("write.bloom.ndv") or 1_000_000)
            # bits ≈ -ndv·ln(fpp)/ln(2)² at fpp=1% → ~1.2 bytes/ndv; ×2
            # headroom, floor at parquet's 1 MiB default
            max_bytes = max(1 << 20, 2 * int(ndv * 1.2))
            writer = writer.option("parquet.bloom.filter.max.bytes",
                                   str(max_bytes))
            for bcol in bloom_cols:
                writer = writer.option(
                    f"parquet.bloom.filter.enabled#{bcol}", "true"
                ).option(
                    f"parquet.bloom.filter.expected.ndv#{bcol}", str(ndv)
                )
        writer.parquet(self.fs.spark_path(final_dir))
        files = [
            p for p in self.fs.walk_files(final_dir) if p.endswith(".parquet")
        ]
        if not files:
            return []
        # one executor-side pass per commit collects row counts AND per-file
        # min/max for the fixed-width stats columns (strings opt in via the
        # "stats.columns" property, truncated to a safe prefix); only
        # O(files × stats-cols) scalars ever reach the driver
        stat_fields = _stats_columns(df.schema, props)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for f in stat_fields:
            # bounds are encoded JVM-side (`_stat_bound_expr`) so temporal
            # stats never depend on the writer session's timezone
            aggs.append(_stat_bound_expr(f, F.min).alias(f"__mn__{f.name}"))
            aggs.append(_stat_bound_expr(f, F.max).alias(f"__mx__{f.name}"))
        counts = (
            self.spark.read.schema(df.schema)
            .parquet(*[self.fs.spark_path(p) for p in files])
            .groupBy(F.input_file_name().alias("__f"))
            .agg(*aggs)
            .collect()
        )
        entries = []
        for r in counts:
            rel = self._uri_to_rel(r["__f"])
            stats: dict = {}
            for f in stat_fields:
                mn, mx = r[f"__mn__{f.name}"], r[f"__mx__{f.name}"]
                if mn is None and mx is None:
                    continue  # all-null column in this file
                if isinstance(f.dataType, T.StringType):
                    # truncated MIN prefix is still a valid lower bound;
                    # a truncated MAX is not a valid upper bound → drop it
                    if mn is not None and len(mn) > _STATS_STR_PREFIX:
                        mn = mn[:_STATS_STR_PREFIX]
                    if mx is not None and len(mx) > _STATS_STR_PREFIX:
                        mx = None
                stats[f.name] = [mn, mx]  # already encoded JVM-side
            if stats:
                stats[_STATS_VERSION_KEY] = _STATS_VERSION
            entries.append(
                FileEntry(rel, _bucket_from_rel(rel), schema_id,
                          int(r["__rows"]), stats or None)
            )
        return entries

    def _next_snap(self, base: dict, operation: str, manifests: dict[str, str],
                   summary: dict | None, fence_key: str | None,
                   schemas: dict | None = None, current_schema_id: int | None = None) -> dict:
        snap = {
            "format_version": base.get("format_version", 2),
            "snapshot_id": base["snapshot_id"] + 1,
            "parent_id": base["snapshot_id"],
            # clamped monotone (Delta's monotonization rule): stamps come
            # from each writer's wall clock, and multi-writer clock skew
            # could otherwise give a child commit an OLDER stamp than its
            # parent — breaking as_of_timestamp_ms resolution, which
            # early-stops at the first version at-or-before the target
            "timestamp_ms": max(int(time.time() * 1000),
                                base.get("timestamp_ms", 0)),
            "operation": operation,
            "current_schema_id": (
                current_schema_id if current_schema_id is not None else base["current_schema_id"]
            ),
            "schemas": schemas if schemas is not None else base["schemas"],
            "bucket_by": base.get("bucket_by"),
            "bucket_count": base.get("bucket_count"),
            "manifests": manifests,
            "fences": dict(base["fences"]),
            "summary": summary or {},
            "properties": base.get("properties", {}),
        }
        if fence_key is not None:
            snap["fences"][fence_key] = snap["snapshot_id"]
        # Bound fence history: an unbounded map copied into every snapshot
        # turns commit metadata O(#fenced commits) and the log O(n²) over a
        # long-running stream. Evict the OLDEST entries (smallest applying
        # snapshot id) past the horizon — the same semantics as Delta's
        # txnAppId retention: a batch re-delivered from further back than
        # `fence.max_entries` commits is no longer deduplicated (streaming
        # checkpoints re-deliver only the most recent batches, so the
        # default horizon of 10k commits is far beyond any real redelivery).
        max_fences = int(
            (snap["properties"] or {}).get("fence.max_entries", 10_000)
        )
        if len(snap["fences"]) > max_fences:
            pruned = sorted(snap["fences"].items(), key=lambda kv: int(kv[1]))
            snap["fences"] = dict(pruned[-max_fences:])
        return snap

    def _replace_entries(
        self,
        snap: dict,
        removed_paths: set[str],
        added: list[FileEntry],
        only_keys: set[str] | None = None,
    ) -> dict[str, str]:
        """New manifest map: drop ``removed_paths``, append ``added`` —
        rewriting manifests ONLY for buckets that actually changed; all
        other buckets carry forward by manifest reference (O(touched)
        metadata per commit, not O(total files))."""
        out = dict(self._require_v2(snap))
        if removed_paths:
            # a removed file becomes an on-disk orphan until
            # expire_snapshots — its directory is no longer fully
            # referenced, so the view generator's clean-dir cache must
            # forget it
            cache = getattr(self, "_clean_dirs", None)
            if cache:
                for p in removed_paths:
                    cache.pop(posixpath.dirname(p), None)
        add_groups: dict[str, list[FileEntry]] = {}
        for fe in added:
            add_groups.setdefault(
                _NO_BUCKET if fe.bucket is None else str(fe.bucket), []
            ).append(fe)
        scan_keys = set(out) if only_keys is None else (only_keys & set(out))
        changed: dict[str, list[FileEntry]] = {}
        if removed_paths:
            for k in scan_keys:
                entries = self._read_manifest(out[k])
                kept = [fe for fe in entries if fe.path not in removed_paths]
                if len(kept) != len(entries):
                    changed[k] = kept
        for k in set(changed) | set(add_groups):
            base_entries = changed.get(k)
            if base_entries is None:
                base_entries = self._read_manifest(out[k]) if k in out else []
            new_entries = base_entries + add_groups.get(k, [])
            if new_entries:
                out[k] = self._write_manifest(new_entries)
            else:
                out.pop(k, None)
        return out

    def _prepare_write(self, df: DataFrame, snap: dict) -> tuple[DataFrame, dict, int]:
        """Reconcile incoming schema with the table, evolving if needed.

        Returns (aligned df, possibly-updated schemas map, schema_id used)."""
        cur_id = snap["current_schema_id"]
        cur = _schema_from_json(snap["schemas"][str(cur_id)])
        new_schema, changed = reconcile_schemas(cur, df.schema)
        schemas = dict(snap["schemas"])
        if changed:
            cur_id = max(int(k) for k in schemas) + 1
            schemas[str(cur_id)] = _schema_json(new_schema)
        aligned = _align_to_schema(df, new_schema)
        return aligned, schemas, cur_id

    def _retry_commit(self, fn, max_retries: int = 5) -> int:
        """Optimistic-concurrency loop: on a snapshot-version race, re-read
        the log and re-apply the operation against the new current snapshot.
        Each attempt re-reads the snapshot first, so its fence check also
        re-runs — a loser whose fence key was just committed by the winner
        returns the winner's snapshot instead of double-applying. Losers'
        orphaned data files are reclaimed by :meth:`expire_snapshots` (the
        same recovery model as Iceberg's commit retries)."""
        attempt = 0
        while True:
            try:
                return fn()
            except CommitConflictError:
                if attempt >= max_retries:
                    raise
                time.sleep(0.05 * (2 ** attempt))
                attempt += 1

    def _fence_hit(self, snap: dict, fence_key: str | None) -> int | None:
        if fence_key is None:
            return None
        v = snap["fences"].get(fence_key)
        return int(v) if v is not None else None

    def append(self, df: DataFrame, summary: dict | None = None,
               fence_key: str | None = None) -> int:
        """Append with CHEAP commit retries (Iceberg's append-retry
        property): the data files are written once; a loser of the
        optimistic commit race re-reads the new snapshot and retries
        METADATA-ONLY — re-homing the written files' schema in the new
        schema map and re-merging manifests — instead of rewriting data.
        This shrinks the conflict window from the full write duration to
        milliseconds, so concurrent appenders converge instead of
        exhausting retries under contention. The one case that forces a
        re-write: a concurrent re-bucket (the written files' bucket labels
        are stale for the new layout)."""
        written: dict = {}
        return self._retry_commit(
            lambda: self._append_once(df, summary, fence_key, written))

    def _append_once(self, df: DataFrame, summary: dict | None = None,
                     fence_key: str | None = None,
                     written: dict | None = None) -> int:
        snap = self.snapshot()
        fenced = self._fence_hit(snap, fence_key)
        if fenced is not None:
            return fenced
        if written is None:
            written = {}
        if written and (
            snap.get("bucket_by") != written["bucket_by"]
            or snap.get("bucket_count") != written["bucket_count"]
        ):
            # concurrent re-bucket: the written files carry the OLD
            # layout's bucket labels — manifest keys would be unsound
            written.clear()
        if not written:
            aligned, schemas, sid = self._prepare_write(df, snap)
            _check_bucket_type(
                snap, self.schema(snap), _schema_from_json(schemas[str(sid)])
            )
            files = self._write_files(aligned, snap, sid)
            written.update(
                files=files,
                schema_json=schemas[str(sid)],
                bucket_by=snap.get("bucket_by"),
                bucket_count=snap.get("bucket_count"),
            )
            schemas_out: dict = schemas
            cur_id = sid
        else:
            # metadata-only retry against the NEW base: reuse the data
            # files; make sure the schema they were written with exists in
            # the new schema map (the winner may have assigned our old id
            # to a different schema), and recompute the CURRENT schema as
            # the reconciliation of the winner's current with ours —
            # regressing current to our write schema could drop a column
            # the winner just added
            schemas_out = dict(snap["schemas"])
            sjson = written["schema_json"]

            def _home(js: str) -> int:
                hit = next(
                    (int(k) for k, v in schemas_out.items() if v == js), None
                )
                if hit is None:
                    hit = max(int(k) for k in schemas_out) + 1
                    schemas_out[str(hit)] = js
                return hit

            wid = _home(sjson)
            files = [
                fe if fe.schema_id == wid else _dc_replace(fe, schema_id=wid)
                for fe in written["files"]
            ]
            cur = _schema_from_json(schemas_out[str(snap["current_schema_id"])])
            merged, changed = reconcile_schemas(cur, _schema_from_json(sjson))
            cur_id = (
                int(snap["current_schema_id"]) if not changed
                else _home(_schema_json(merged))
            )
        manifests = self._replace_entries(snap, set(), files)
        nxt = self._next_snap(
            snap, "append", manifests, summary, fence_key,
            schemas=schemas_out, current_schema_id=cur_id,
        )
        nxt["summary"].setdefault("rows_written", sum(fe.rows for fe in files))
        return self._commit(nxt)

    def overwrite(self, df: DataFrame, summary: dict | None = None,
                  fence_key: str | None = None) -> int:
        return self._retry_commit(lambda: self._overwrite_once(df, summary, fence_key))

    def _overwrite_once(self, df: DataFrame, summary: dict | None = None,
                        fence_key: str | None = None) -> int:
        snap = self.snapshot()
        fenced = self._fence_hit(snap, fence_key)
        if fenced is not None:
            return fenced
        aligned, schemas, sid = self._prepare_write(df, snap)
        new_files = self._write_files(aligned, snap, sid)
        nxt = self._next_snap(
            snap, "overwrite", self._manifests_from_entries(new_files),
            summary, fence_key, schemas=schemas, current_schema_id=sid,
        )
        nxt["summary"].setdefault("rows_written", sum(fe.rows for fe in new_files))
        return self._commit(nxt)

    # --------------------------------------------------------------- update
    def update(
        self,
        condition: F.Column,
        set_values: dict[str, F.Column],
        summary: dict | None = None,
        fence_key: str | None = None,
        where: list[tuple] | None = None,
    ) -> tuple[int, int]:
        """Targeted copy-on-write UPDATE: set columns where ``condition``
        holds; only files containing matching rows are rewritten.

        ``where`` is an optional conjunctive ``(col, op, value)`` hint that
        MUST be implied by ``condition`` (it is also re-applied as a filter,
        so an inconsistent hint can only under-update, never corrupt): files
        whose stats provably exclude it are skipped BEFORE the match probe —
        without it the probe scans every live file even when the update
        touches one day of a year-long table.

        Returns (snapshot_id, rows_updated). A no-op update (0 matching
        rows) warns and commits nothing — mirroring the reference's
        history-based updated-rows check after every Delta ``update``
        (``audit/run.py:27-30`` ``_table_not_updated``,
        ``audit/checkpoint.py:74-91``)."""
        return self._retry_commit(
            lambda: self._update_once(condition, set_values, summary,
                                      fence_key, where)
        )

    def _row_op_context(
        self, condition: F.Column, where: list[tuple] | None,
        snap: dict | None = None,
    ) -> tuple[dict, list[FileEntry], T.StructType, F.Column]:
        """Shared UPDATE/DELETE prologue: current snapshot, stats-pruned
        candidate files (the ``where`` hint drops files whose min/max
        provably exclude it BEFORE any probe scan), and the tombstone-aware
        live condition (a tombstoned key never matches a row-level op).
        Callers that already read (and fence-checked) the snapshot pass it
        in so a fenced redelivery never pays the manifest listing."""
        if snap is None:
            snap = self.snapshot()
        existing = self.files(snap)
        if where:
            types = {f.name: f.dataType for f in self.schema(snap).fields}
            tz = self._session_tz()
            existing = [
                fe for fe in existing
                if not _file_skippable(fe.stats, where, types, tz)
            ]
            condition = condition & _where_to_column(where, types)
        schema = self.schema(snap)
        live_cond = condition
        if META_DELETED in [f.name for f in schema.fields]:
            live_cond = condition & ~F.coalesce(F.col(META_DELETED), F.lit(False))
        return snap, existing, schema, live_cond

    def _probe_hits(
        self, snap: dict, existing: list[FileEntry], live_cond: F.Column
    ) -> dict[str, int]:
        """rel-path → count of live rows matching, for files that match at
        all — ONE executor-side probe job over the candidate files."""
        hits: dict[str, int] = {}
        if existing:
            probe = self._read_files(snap, existing, with_file_col=True)
            for r in probe.filter(live_cond).groupBy("__file").count().collect():
                hits[self._uri_to_rel(r[0])] = int(r[1])
        return hits

    def _update_once(
        self,
        condition: F.Column,
        set_values: dict[str, F.Column],
        summary: dict | None,
        fence_key: str | None,
        where: list[tuple] | None = None,
    ) -> tuple[int, int]:
        import warnings

        snap = self.snapshot()
        fenced = self._fence_hit(snap, fence_key)
        if fenced is not None:
            return fenced, 0
        snap, existing, schema, live_cond = self._row_op_context(
            condition, where, snap)
        hits = self._probe_hits(snap, existing, live_cond)
        hit = set(hits)
        rows_updated = sum(hits.values())
        if rows_updated == 0:
            warnings.warn(
                f"update matched 0 rows at {self.path}; no snapshot committed",
                stacklevel=3,
            )
            return snap["snapshot_id"], 0
        affected = [fe for fe in existing if fe.path in hit]
        rows = self._read_files(snap, affected, with_file_col=False)
        # ONE select so the condition evaluates against the ORIGINAL row —
        # chained withColumn would re-evaluate it against already-updated
        # columns (a condition on a column being set would turn false
        # mid-update and silently skip the remaining assignments)
        rows = rows.select(
            *[
                (
                    F.when(live_cond, set_values[c]).otherwise(F.col(c)).alias(c)
                    if c in set_values
                    else F.col(c)
                )
                for c in rows.columns
            ]
        )
        rewritten = self._write_files(_align_to_schema(rows, schema), snap, snap["current_schema_id"])
        manifests = self._replace_entries(snap, hit, rewritten)
        nxt = self._next_snap(snap, "update", manifests, summary, fence_key)
        nxt["summary"].setdefault("rows_updated", rows_updated)
        nxt["summary"].setdefault("files_rewritten", len(affected))
        # candidate files AFTER stats pruning — the observable proof that a
        # `where` hint actually narrowed the probe
        nxt["summary"].setdefault("files_probed", len(existing))
        return self._commit(nxt), rows_updated

    # ------------------------------------------------------ change data feed
    def _changed_bucket_entries(
        self, old_snap: dict, new_snap: dict
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        """File entries of buckets whose manifests DIFFER between two
        snapshots. A bucket carrying the identical manifest reference is
        byte-identical on both sides — zero rows of it can have changed —
        so a snapshot-to-snapshot diff never reads it. O(buckets) driver
        work; the skipped data volume is the whole point at 10^10 rows."""
        om = self._require_v2(old_snap)
        nm = self._require_v2(new_snap)
        rebucketed = old_snap.get("bucket_count") != new_snap.get("bucket_count")
        same = set() if rebucketed else {
            k for k in om if nm.get(k) == om[k]
        }
        old_entries = [
            fe for k, m in om.items() if k not in same
            for fe in self._read_manifest(m)
        ]
        new_entries = [
            fe for k, m in nm.items() if k not in same
            for fe in self._read_manifest(m)
        ]
        return old_entries, new_entries

    def _bucket_pruning_sound(
        self, key_cols: list[str], old_snap: dict, new_snap: dict
    ) -> bool:
        """Bucket-level diff pruning is sound ONLY when a key's rows are
        guaranteed to sit in the same bucket on both sides:

        * the bucket column must be part of ``key_cols`` — otherwise a key
          whose row moved buckets (bucket column value changed) would be
          seen on one side only and misclassified as new/deleted;
        * the bucket column's TYPE must be unchanged — xxhash64 hashes an
          int and a widened long differently, so a type widening silently
          re-maps bucket assignment for rewritten rows;
        * both snapshots must be format v2 (manifest-per-bucket).

        When any condition fails, callers fall back to a full two-sided
        diff — always correct, just unpruned."""
        bucket_by = new_snap.get("bucket_by")
        if not bucket_by or bucket_by not in key_cols:
            return False
        if old_snap.get("format_version", 2) < 2 or \
                new_snap.get("format_version", 2) < 2:
            return False
        try:
            ot = self.schema(old_snap)[bucket_by].dataType
            nt = self.schema(new_snap)[bucket_by].dataType
        except KeyError:
            return False
        return ot == nt

    def changes(
        self,
        key_cols: list[str],
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        validate_keys: bool = False,
    ) -> DataFrame:
        """Change data feed: row-level changes between two snapshots of THIS
        table (Delta CDF / Iceberg changelog-scan parity). Output is the
        :func:`operators.snapshot_diff.classify_changes` shape — key
        columns, ``old_``/``new_`` value columns, ``change_type`` ∈
        {new, deleted, updated} — ready for
        :func:`operators.snapshot_diff.to_change_events` to re-enter the
        MERGE path of a downstream table.

        CONTRACT: ``key_cols`` must uniquely identify a row on each side
        (the invariant :meth:`merge_cdc` maintains). On a table with
        duplicate rows per key — possible via plain :meth:`append` — a
        keyed diff cannot represent row multiplicity and the feed would
        mis-classify; same documented one-row-per-key contract as the
        merge source. ``validate_keys=True`` makes a violation LOUD: each
        side's live rows over the diffed buckets are asserted unique per
        key (one extra ``groupBy(keys)`` scan per side over only the
        changed buckets — opt-in because even that is not free on a hot
        path) and a ValueError reports the duplicate-key count instead of
        a silently wrong feed.

        Scale shape: buckets whose manifest reference is unchanged between
        the snapshots are skipped wholesale (O(buckets) metadata compare,
        no scan), so the join cost tracks the volume of buckets that
        actually changed, not table size. The pruning self-disables (full,
        still-correct diff) whenever it would be unsound: unbucketed
        tables, bucket column not part of ``key_cols``, a re-bucket or a
        bucket-column type widening between the snapshots, or legacy v1
        snapshots. Schema evolution between the snapshots is handled by
        aligning the old side to the new USER schema (added columns diff
        as NULL → value)."""
        from ..operators.snapshot_diff import CHANGE_UNCHANGED, classify_changes

        old_snap = self.snapshot(from_snapshot_id)
        new_snap = self.snapshot(to_snapshot_id)
        user_schema = T.StructType([
            f for f in self.schema(new_snap).fields if f.name not in _META_COLS
        ])
        if self._bucket_pruning_sound(key_cols, old_snap, new_snap):
            old_entries, new_entries = self._changed_bucket_entries(
                old_snap, new_snap)
        else:
            old_entries, new_entries = self.files(old_snap), self.files(new_snap)

        def live(snap, entries):
            if not entries:
                return self.spark.createDataFrame([], user_schema)
            df = self._read_files(snap, entries, with_file_col=False)
            if META_DELETED in df.columns:
                df = df.filter(~F.coalesce(F.col(META_DELETED), F.lit(False)))
            df = df.drop(*[c for c in _META_COLS if c in df.columns])
            return _align_to_schema(df, user_schema)

        old_live = live(old_snap, old_entries)
        new_live = live(new_snap, new_entries)
        if validate_keys:
            for side, sid_, df_ in (
                ("from_snapshot", old_snap["snapshot_id"], old_live),
                ("to_snapshot", new_snap["snapshot_id"], new_live),
            ):
                # ONE aggregation scan per side (a count + distinct-count
                # pair would scan each side twice)
                dups = (
                    df_.groupBy(*key_cols).count()
                    .filter(F.col("count") > 1)
                    .agg(F.coalesce(
                        F.sum(F.col("count") - 1), F.lit(0)
                    ).alias("extra"))
                    .collect()[0]["extra"]
                )
                if dups:
                    raise ValueError(
                        f"changes(validate_keys=True): snapshot {sid_} "
                        f"({side}) holds {dups} duplicate row(s) for "
                        f"{key_cols} across the diffed buckets — a keyed "
                        f"change feed cannot represent row multiplicity "
                        f"(dedupe the table, e.g. via merge_cdc, first)"
                    )
        value_cols = [f.name for f in user_schema.fields if f.name not in key_cols]
        diffed = classify_changes(old_live, new_live, key_cols, value_cols)
        return diffed.filter(F.col("change_type") != CHANGE_UNCHANGED)

    # --------------------------------------------------------------- delete
    def delete(
        self,
        condition: F.Column,
        summary: dict | None = None,
        fence_key: str | None = None,
        where: list[tuple] | None = None,
        tombstone_lsn: int | None = None,
    ) -> tuple[int, int]:
        """Predicate DELETE, copy-on-write — symmetric to :meth:`update`.

        Rows where ``condition`` is TRUE are removed; FALSE and NULL rows
        are kept (standard SQL DELETE three-valued semantics). Only files
        containing matching rows are touched: a file whose rows ALL match is
        dropped from the manifest without any rewrite; the rest are
        rewritten with matching rows filtered out. Existing CDC tombstones
        are preserved in rewrites — they still mask older versions of their
        key in untouched files — and a tombstoned key never matches (the
        delete targets live rows only).

        CDC interplay — physical removal is NOT LSN-fenced: on a
        :meth:`merge_cdc`-managed table, a later-arriving out-of-order
        change event with ANY lsn (even one lower than the deleted row's)
        finds no target row and re-inserts the key. When the delete must
        win last-writer-wins against stragglers, pass ``tombstone_lsn``:
        matching rows are then REWRITTEN as CDC tombstones
        (``__deleted=true``, ``__lsn = max(row's own lsn, tombstone_lsn)``
        — never lowered) instead of removed, so any
        subsequent event with a lower lsn loses the merge and the key stays
        dead until :meth:`compact` purges the tombstone below the
        out-of-order watermark. Requires the table to carry the CDC meta
        columns (any table that has seen a merge does).

        ``where`` is the same stats-pruning hint as :meth:`update`: a
        conjunctive ``(col, op, value)`` list implied by ``condition`` that
        lets per-file min/max stats skip files before the match probe.

        Reference analogue: the cleanup rewrite that scrubs bad rows via a
        Delta-side delete (``core/spark_delta.py:124-127``) — here a
        first-class engine operation. Returns (snapshot_id, rows_deleted);
        a 0-match delete warns and commits nothing."""
        return self._retry_commit(
            lambda: self._delete_once(
                condition, summary, fence_key, where, tombstone_lsn
            )
        )

    def _delete_once(
        self,
        condition: F.Column,
        summary: dict | None,
        fence_key: str | None,
        where: list[tuple] | None = None,
        tombstone_lsn: int | None = None,
    ) -> tuple[int, int]:
        import warnings

        snap = self.snapshot()
        fenced = self._fence_hit(snap, fence_key)
        if fenced is not None:
            return fenced, 0
        snap, existing, schema, live_cond = self._row_op_context(
            condition, where, snap)
        if tombstone_lsn is not None:
            names = [f.name for f in schema.fields]
            if META_DELETED not in names or META_LSN not in names:
                raise ValueError(
                    f"delete(tombstone_lsn=...) needs the CDC meta columns "
                    f"({META_LSN}, {META_DELETED}) — this table at "
                    f"{self.path} has never seen merge_cdc; use a physical "
                    f"delete (tombstone_lsn=None) instead"
                )
        hit_counts = self._probe_hits(snap, existing, live_cond)
        rows_deleted = sum(hit_counts.values())
        if rows_deleted == 0:
            warnings.warn(
                f"delete matched 0 rows at {self.path}; no snapshot committed",
                stacklevel=3,
            )
            return snap["snapshot_id"], 0
        by_path = {fe.path: fe for fe in existing}
        if tombstone_lsn is not None:
            # tombstoning form: rewrite every hit file with matching rows
            # flipped to (deleted, lsn) — no drop shortcut, the tombstones
            # must survive to fence out-of-order stragglers
            affected = [by_path[p] for p in hit_counts]
            rows = self._read_files(snap, affected, with_file_col=False)
            # ONE select: live_cond reads META_DELETED, which this select
            # also assigns — chained withColumn would re-evaluate the
            # condition against the already-tombstoned row. The tombstone
            # lsn is clamped to ≥ the row's OWN lsn (greatest ignores a
            # NULL row lsn): stamping a LOWER value would let a straggler
            # newer than the deleted state but older than the caller's
            # watermark win LWW and resurrect the key — the exact hazard
            # this mode exists to fence.
            stamped_lsn = F.greatest(
                F.col(META_LSN), F.lit(int(tombstone_lsn)).cast("long")
            )
            rows = rows.select(*[
                (
                    F.when(live_cond, F.lit(True))
                    .otherwise(F.col(c)).alias(c)
                    if c == META_DELETED
                    else F.when(live_cond, stamped_lsn)
                    .otherwise(F.col(c)).alias(c)
                    if c == META_LSN
                    else F.col(c)
                )
                for c in rows.columns
            ])
            rewritten = self._write_files(
                _align_to_schema(rows, schema), snap, snap["current_schema_id"]
            )
            manifests = self._replace_entries(snap, set(hit_counts), rewritten)
            nxt = self._next_snap(snap, "delete", manifests, summary, fence_key)
            nxt["summary"].setdefault("rows_deleted", rows_deleted)
            nxt["summary"].setdefault("mode", "tombstone")
            nxt["summary"].setdefault("tombstone_lsn", int(tombstone_lsn))
            nxt["summary"].setdefault("files_rewritten", len(affected))
            nxt["summary"].setdefault("files_probed", len(existing))
            return self._commit(nxt), rows_deleted
        # a file where every PHYSICAL row matches holds no tombstones and no
        # survivors — drop it outright, zero rewrite I/O (the common case
        # for partition-aligned deletes at scale)
        dropped = {p for p, c in hit_counts.items() if c == by_path[p].rows}
        rewrite = [by_path[p] for p in hit_counts if p not in dropped]
        rewritten: list[FileEntry] = []
        if rewrite:
            rows = self._read_files(snap, rewrite, with_file_col=False)
            # keep condition-FALSE and condition-NULL rows (and tombstones)
            rows = rows.filter(~F.coalesce(live_cond, F.lit(False)))
            rewritten = self._write_files(
                _align_to_schema(rows, schema), snap, snap["current_schema_id"]
            )
        manifests = self._replace_entries(snap, set(hit_counts), rewritten)
        nxt = self._next_snap(snap, "delete", manifests, summary, fence_key)
        nxt["summary"].setdefault("rows_deleted", rows_deleted)
        nxt["summary"].setdefault("files_rewritten", len(rewrite))
        nxt["summary"].setdefault("files_dropped", len(dropped))
        nxt["summary"].setdefault("files_probed", len(existing))
        return self._commit(nxt), rows_deleted

    # ---------------------------------------------------------------- merge
    def merge_cdc(
        self,
        source: DataFrame,
        key_cols: list[str],
        lsn_col: str = "lsn",
        op_col: str = "op",
        summary: dict | None = None,
        fence_key: str | None = None,
        touched_buckets: set[int] | None = None,
        touched_buckets_count: int | None = None,
        incoming_rows: int | None = None,
        exclude_cols: tuple = ("batch_id",),
    ) -> int:
        """CDC MERGE: last-writer-wins upsert/delete, copy-on-write.

        ``exclude_cols`` names source columns that are micro-batch transport
        metadata, NOT payload (default: ``batch_id``, the replay framing
        column). A source whose BUSINESS schema legitimately contains a
        column with one of these names should pass ``exclude_cols=()``.

        A ``touched_buckets`` hint is only honored together with
        ``touched_buckets_count`` — the bucket_count the caller computed it
        under. If the table was concurrently re-bucketed (``compact(
        new_bucket_count=...)``), stale bucket ids would prune the WRONG
        manifests and matched keys would silently re-insert; the count check
        makes the merge recompute instead (on the first attempt AND on every
        optimistic retry, each of which re-reads the snapshot).

        ``source`` must contain exactly one row per key (run
        :func:`operators.lww.lww_dedup` first), with ``op`` ∈ {i,u,d} and a
        monotone ``lsn``. Semantics (Iceberg ``MERGE INTO`` equivalent, cf.
        reference Delta merge ``audit/checkpoint.py:54-60``)::

            WHEN MATCHED  AND s.lsn > t.__lsn THEN  replace payload,
                                                    __deleted = (op = 'd')
            WHEN NOT MATCHED                  THEN  insert (tombstone if 'd')

        Deletes persist as tombstones so later-arriving lower-LSN events
        still lose; physical purge happens in :meth:`compact`.

        Scale: only parquet files whose bucket intersects the incoming key
        set AND that actually contain a matching key are rewritten; all other
        files carry forward as metadata. The rewrite is ONE full-outer join
        of the source with the affected files' rows, whose output is written
        as the replacement files (updates, deletes and inserts alike).
        Retries on snapshot races with per-attempt fence re-check, same as
        append.

        ``incoming_rows``, when given, must be the exact row count of
        ``source``: it is not checked. It picks between skipping the
        existence probe (a batch dense against the candidate rows, see
        ``DENSE_PROBE_RATIO``) and running it, and it sizes the probe — the
        source keys are broadcast only when it is at most
        ``BROADCAST_PROBE_MAX_ROWS``, so an understated count on a huge
        batch can exhaust executor memory. ``None`` always probes, shuffled.

        ``source`` is evaluated more than once (the touched-bucket scan when
        no valid hint is given, the existence probe, the rewrite), so it
        must be deterministic. A source that returns other rows when
        re-evaluated (e.g. an unpersisted ``dropDuplicates`` tie-break) can
        make the rewrite insert a key a second time, beside its live row in
        a file the probe did not select. Persist such a source first, as
        the replay and replicator callers do.
        """
        return self._retry_commit(
            lambda: self._merge_once(
                source, key_cols, lsn_col, op_col, summary, fence_key,
                touched_buckets, touched_buckets_count,
                incoming_rows, exclude_cols,
            )
        )

    def _merge_once(
        self,
        source: DataFrame,
        key_cols: list[str],
        lsn_col: str,
        op_col: str,
        summary: dict | None,
        fence_key: str | None,
        touched_buckets: set[int] | None,
        touched_buckets_count: int | None,
        incoming_rows: int | None,
        exclude_cols: tuple,
    ) -> int:
        snap = self.snapshot()
        fenced = self._fence_hit(snap, fence_key)
        if fenced is not None:
            return fenced
        table_schema = self.schema(snap)
        user_fields = [f for f in table_schema.fields if f.name not in _META_COLS]

        # 1. schema evolution from the incoming batch (Arrow-reconciled)
        src_payload_schema = T.StructType(
            [f for f in source.schema.fields
             if f.name not in (op_col, lsn_col, *exclude_cols)]
        )
        new_user_schema, changed = reconcile_schemas(
            T.StructType(user_fields), src_payload_schema
        )
        _check_bucket_type(snap, table_schema, new_user_schema)
        schemas = dict(snap["schemas"])
        sid = snap["current_schema_id"]
        full_schema = T.StructType(
            list(new_user_schema.fields)
            + [T.StructField(META_LSN, T.LongType()), T.StructField(META_DELETED, T.BooleanType())]
        )
        if changed or META_LSN not in [f.name for f in table_schema.fields]:
            sid = max(int(k) for k in schemas) + 1
            schemas[str(sid)] = _schema_json(full_schema)

        # 2. normalize source: payload aligned to user schema + meta cols
        src = source
        for f in new_user_schema.fields:
            if f.name not in src.columns:
                src = src.withColumn(f.name, F.lit(None).cast(f.dataType))
        src = src.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in new_user_schema.fields],
            F.col(lsn_col).cast("long").alias(META_LSN),
            (F.col(op_col) == F.lit("d")).alias(META_DELETED),
        )

        # 3. bucket pruning at the MANIFEST level: only the touched buckets'
        #    manifests are even read; every other bucket carries forward as
        #    one opaque manifest reference (commit metadata ∝ touched
        #    buckets, never total file count)
        bucket = self._bucket_expr(snap)
        manifests: dict[str, str] = self._require_v2(snap)
        candidate_keys: set[str]
        if bucket is not None and manifests and _NO_BUCKET not in manifests:
            # caller may already know the touched buckets (e.g. the replay
            # path computes them in its lineage aggregation) — saves a job.
            # Honor the hint ONLY if it was computed under THIS snapshot's
            # bucket_count (a concurrent re-bucket invalidates it).
            hint_valid = (
                touched_buckets is not None
                and touched_buckets_count == int(snap["bucket_count"])
            )
            touched = touched_buckets if hint_valid else {
                r[0]
                for r in src.select(bucket.alias("b")).distinct().collect()
            }
            candidate_keys = {str(b) for b in touched} & set(manifests)
        else:
            candidate_keys = set(manifests)
        candidates = [
            fe for k in sorted(candidate_keys)
            for fe in self._read_manifest(manifests[k])
        ]

        # 4. file-level existence probe: keep candidate files with no matching
        #    key as carry-forward metadata (no rewrite). For DENSE batches
        #    (incoming keys a meaningful fraction of the candidate rows) the
        #    probe almost always hits every file — skip it and rewrite all
        #    candidates, saving a full target scan + join per merge.
        affected: list[FileEntry] = []
        candidate_rows = sum(max(fe.rows, 0) for fe in candidates)
        dense = (
            incoming_rows is not None
            and candidate_rows > 0
            and incoming_rows >= DENSE_PROBE_RATIO * candidate_rows
        )
        if candidates and dense:
            affected = candidates
        elif candidates:
            tgt = self._read_files(snap, candidates, with_file_col=True)
            keyed_src = src.select(*key_cols).distinct()
            # broadcast only when the batch row count is known AND small; a
            # "sparse" batch at 10^10-row scale can still dwarf driver memory
            if incoming_rows is not None and incoming_rows <= BROADCAST_PROBE_MAX_ROWS:
                keyed_src = F.broadcast(keyed_src)
            hit_files = {
                self._uri_to_rel(r[0])
                for r in tgt.join(keyed_src, on=key_cols, how="leftsemi")
                .select("__file")
                .distinct()
                .collect()
            }
            affected = [fe for fe in candidates if fe.path in hit_files]
        # 5. rewrite affected files merged with source (the merge also
        # carries source-only rows, i.e. brand-new keys, so ONE write covers
        # updates, deletes and inserts)
        if affected:
            tgt_rows = self._read_files(snap, affected, with_file_col=False)
            tgt_rows = _align_to_schema(tgt_rows, full_schema)
            s = src.alias("s")
            t = tgt_rows.alias("t")
            joined = t.join(s, on=key_cols, how="full_outer")
            s_lsn, t_lsn = F.col(f"s.{META_LSN}"), F.col(f"t.{META_LSN}")
            take_src = s_lsn.isNotNull() & (t_lsn.isNull() | (s_lsn > t_lsn))
            merged = joined.select(
                *[
                    F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k)
                    for k in key_cols
                ],
                *[
                    F.when(take_src, F.col(f"s.{f.name}"))
                    .otherwise(F.col(f"t.{f.name}"))
                    .alias(f.name)
                    for f in new_user_schema.fields
                    if f.name not in key_cols
                ],
                F.when(take_src, s_lsn).otherwise(t_lsn).alias(META_LSN),
                F.when(take_src, F.col(f"s.{META_DELETED}"))
                .otherwise(F.col(f"t.{META_DELETED}"))
                .alias(META_DELETED),
            )
            out_rows = _align_to_schema(merged, full_schema)
        else:
            # no existing file contains any incoming key (carried files were
            # existence-probed with no hit or live in untouched buckets):
            # everything is an insert
            out_rows = _align_to_schema(src, full_schema)
        rewritten_files = self._write_files(out_rows, snap, sid)

        new_manifests = self._replace_entries(
            snap,
            {fe.path for fe in affected},
            rewritten_files,
            only_keys=candidate_keys,
        )
        nxt = self._next_snap(
            snap, "merge", new_manifests, summary, fence_key,
            schemas=schemas, current_schema_id=sid,
        )
        nxt["summary"].setdefault("files_rewritten", len(affected))
        nxt["summary"].setdefault("files_added", len(rewritten_files))
        return self._commit(nxt)

    def _read_files(self, snap: dict, entries: list[FileEntry], with_file_col: bool) -> DataFrame:
        cur = self.schema(snap)
        groups: dict[int, list[str]] = {}
        for fe in entries:
            groups.setdefault(fe.schema_id, []).append(self.fs.join(self.path, fe.path))
        parts = []
        for sid, paths in groups.items():
            fs_schema = _schema_from_json(snap["schemas"][str(sid)])
            df = self.spark.read.schema(fs_schema).parquet(*paths)
            if with_file_col:
                df = df.withColumn("__file", F.input_file_name())
            target = cur if not with_file_col else T.StructType(
                list(cur.fields) + [T.StructField("__file", T.StringType())]
            )
            parts.append(_align_to_schema(df, target))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ---------------------------------------------------------- maintenance
    def compact(self, purge_tombstones_below_lsn: int | None = None,
                target_files_per_bucket: int = 1,
                new_bucket_count: int | None = None,
                sort_by: list[str] | None = None,
                zorder_by: list[str] | None = None) -> int:
        """Rewrite data into dense files (reference OPTIMIZE ZORDER analogue,
        ``core/spark_delta.py:144-150``); optionally purge tombstones whose
        LSN is below the out-of-order watermark (safe physical delete).

        ``new_bucket_count`` re-buckets the table in the same pass — the
        operational lever for growth: a table created at 256 buckets that
        grows 100× re-buckets to 4,096 so per-bucket bytes (and merge
        rewrite units) stay bounded. One full rewrite, atomic snapshot swap;
        subsequent merges prune against the new layout.

        ``sort_by`` clusters rows by the given key(s) during the rewrite
        (range-partitioned + sorted within files → per-file key ranges are
        tight and disjoint) AND persists as the ``write.sort_by`` table
        property so subsequent commits keep the clustering — together with
        per-file min/max stats this is the ZORDER-style range-scan locality
        the reference gets from Delta OPTIMIZE.

        ``zorder_by`` is the MULTI-column clustering form (Delta ``OPTIMIZE
        ZORDER BY``): rows sort by an interleaved-bit Morton key over the
        given columns, so per-file min/max stay tight in EVERY listed
        dimension and ``read(where=…)`` prunes on any of them — a linear
        ``sort_by`` only prunes its leading column. Quantile bin bounds are
        sampled here and persisted (``write.zorder.*`` properties) so later
        appends keep the same clustering without re-sampling. Mutually
        exclusive with ``sort_by``."""
        snap = self.snapshot()
        if sort_by is not None and zorder_by is not None:
            raise ValueError("pass either sort_by or zorder_by, not both")
        if zorder_by is not None:
            from .zorder import ZORDER_BITS, compute_bounds

            known = {f.name for f in self.schema(snap).fields}
            unknown = [c for c in zorder_by if c not in known]
            if unknown:
                raise ValueError(
                    f"zorder_by column(s) {unknown} not in table schema "
                    f"{sorted(known)}"
                )
            bounds = compute_bounds(self.read(), list(zorder_by))
            degenerate = [c for c in zorder_by if not bounds.get(c)]
            if degenerate:
                # an empty cut-point list (empty table, all-NULL column)
                # would persist a z-key that maps every row to bin 0 — the
                # clustering, and the pruning benches assert on, silently
                # disappears for that dimension. Refuse instead.
                raise ValueError(
                    f"zorder_by column(s) {degenerate} produced no quantile "
                    f"cut points (empty table or all-NULL column) — "
                    f"clustering on them would be degenerate; drop them from "
                    f"zorder_by or populate the column first"
                )
            old_props = snap.get("properties") or {}
            old_bounds = old_props.get("write.zorder.bounds") or {}
            for c in zorder_by:
                ob = old_bounds.get(c)
                if not ob:
                    continue
                # appends between compacts reuse the PREVIOUS bounds; if the
                # distribution drifted, rows piled into the extreme bins and
                # per-file stats stopped separating on this dimension. The
                # new quantiles measure that for free: the fraction of new
                # cut points outside the old [first, last] cut range ≈ the
                # data mass the old key lumped into its top/bottom bin.
                nb = bounds[c]
                outside = sum(1 for v in nb if v < ob[0] or v > ob[-1])
                frac = outside / len(nb)
                if frac > 0.2:
                    import warnings

                    warnings.warn(
                        f"zorder bounds drift on {c!r}: ~{frac:.0%} of the "
                        f"current distribution lay outside the previous "
                        f"quantile range, so files appended since the last "
                        f"compact were weakly clustered on this dimension "
                        f"(pruning-lossy, never incorrect). This compact "
                        f"refreshes the bounds; compact more often if the "
                        f"column's distribution shifts continuously",
                        stacklevel=3,
                    )
            snap = dict(snap)
            props = dict(old_props)
            props.pop("write.sort_by", None)
            props["write.zorder.by"] = list(zorder_by)
            props["write.zorder.bounds"] = bounds
            props["write.zorder.bits"] = ZORDER_BITS
            snap["properties"] = props
        if sort_by is not None:
            # a typo'd column here would silently produce an unclustered
            # full-table rewrite AND persist a property claiming otherwise
            known = {f.name for f in self.schema(snap).fields}
            unknown = [c for c in sort_by if c not in known]
            if unknown:
                raise ValueError(
                    f"sort_by column(s) {unknown} not in table schema "
                    f"{sorted(known)}"
                )
            snap = dict(snap)
            props = dict(snap.get("properties") or {})
            props["write.sort_by"] = list(sort_by)
            for k in ("write.zorder.by", "write.zorder.bounds", "write.zorder.bits"):
                props.pop(k, None)
            snap["properties"] = props
        df = self.read(include_meta=True)
        if purge_tombstones_below_lsn is not None and META_DELETED in df.columns:
            df = df.filter(
                ~(F.coalesce(F.col(META_DELETED), F.lit(False))
                  & (F.col(META_LSN) < F.lit(purge_tombstones_below_lsn)))
            )
        sid = snap["current_schema_id"]
        if new_bucket_count is not None:
            if not snap.get("bucket_by"):
                raise ValueError("cannot re-bucket an unbucketed table")
            snap = dict(snap)
            snap["bucket_count"] = int(new_bucket_count)
        _props_now = snap.get("properties") or {}
        _clustered = bool(
            _props_now.get("write.sort_by") or _props_now.get("write.zorder.by")
        )
        if snap.get("bucket_by"):
            n_parts = max(1, int(snap["bucket_count"]) * target_files_per_bucket)
        elif _clustered:
            # unbucketed CLUSTERED compact: the whole point is many files
            # with tight per-file ranges — a default target of 1 would
            # collapse the table into a single file and silently destroy
            # the min/max pruning the clustering exists for, so the
            # default widens to the session parallelism
            n_parts = max(
                target_files_per_bucket,
                self.spark.sparkContext.defaultParallelism,
            )
        else:
            # unbucketed unclustered: the target is the absolute file count
            # (small-file consolidation — without this the rewrite keeps
            # one file per input split and never consolidates). For large
            # tables pass a larger target: each output file is one task.
            n_parts = max(1, target_files_per_bucket)
        new_files = self._write_files(
            _align_to_schema(df, self.schema(snap)), snap, sid,
            n_partitions=n_parts,
        )
        nxt = self._next_snap(
            snap, "compact", self._manifests_from_entries(new_files),
            {"compacted": True, "bucket_count": snap.get("bucket_count")}, None,
        )
        return self._commit(nxt)

    def rollback_to(self, snapshot_id: int | None = None, *,
                    tag: str | None = None,
                    as_of_timestamp_ms: int | None = None,
                    summary: dict | None = None) -> int:
        """Restore the table to a previous snapshot's state as a NEW commit
        (Iceberg ``rollback_to_snapshot`` / Delta RESTORE parity; the
        reference restores by re-reading an old Delta version,
        ``audit/run.py:64-114`` — this makes the restore itself a committed,
        auditable operation). Target by id, :meth:`tag`, or timestamp.

        METADATA-ONLY: the new snapshot re-references the target's
        manifests (or rebuilds them from its file list for legacy v1
        snapshots) — no data is rewritten, and the referenced files are
        retention-pinned by the new snapshot, so a later
        :meth:`expire_snapshots` cannot pull them out from under it.
        History is preserved (roll forward by rolling "back" to a
        pre-rollback id). Restores the DATA, the SCHEMA, and the bucket
        layout as of the target — schema and layout ride each snapshot in
        this format, so a rollback across a type-widening or a re-bucket
        reverts those too.

        Kept from the CURRENT state, not the target: table ``properties``
        (config, not data) and the FENCE map — so change batches already
        applied before the target snapshot stay deduplicated, and
        re-delivering them after a rollback is a fenced no-op. To
        re-ingest history into the rolled-back table, replay under a new
        ``run_id``. Rolling back to the current snapshot warns and
        commits nothing. A live stream over this table sees the commit as
        row-changing and fails loudly (``onDataChange=skip`` to ignore)."""
        import warnings

        if snapshot_id is None and tag is None and as_of_timestamp_ms is None:
            # snapshot(None, None, None) would resolve to the CURRENT
            # snapshot and no-op — a forgotten argument must not read as a
            # successful restore
            raise ValueError(
                "rollback_to: pass a target — snapshot_id, tag, or "
                "as_of_timestamp_ms"
            )
        target = self.snapshot(snapshot_id, as_of_timestamp_ms, tag)
        target_id = int(target["snapshot_id"])

        def _once() -> int:
            base = self.snapshot()
            if int(base["snapshot_id"]) == target_id:
                warnings.warn(
                    f"rollback_to: snapshot {target_id} is already current "
                    f"at {self.path}; nothing committed"
                )
                return target_id
            if "manifests" in target:
                manifests = dict(target["manifests"])
            else:  # legacy v1 snapshot: inline file list → fresh manifests
                manifests = self._manifests_from_entries(self.files(target))
            nxt = self._next_snap(
                base, "rollback", manifests, summary, None,
                schemas=dict(target["schemas"]),
                current_schema_id=int(target["current_schema_id"]),
            )
            nxt["bucket_by"] = target.get("bucket_by")
            nxt["bucket_count"] = target.get("bucket_count")
            nxt["summary"].setdefault("rollback_of", target_id)
            # the live file set just changed shape: the view generator's
            # verified-clean directory cache may hold entries whose
            # expected file sets no longer match — drop it wholesale
            cache = getattr(self, "_clean_dirs", None)
            if cache:
                cache.clear()
            return self._commit(nxt)

        return self._retry_commit(_once)

    def table_stats(self, snapshot_id: int | None = None) -> dict:
        """Operational layout summary from METADATA ONLY (manifests + log —
        zero data scanned; Iceberg's ``files``/``snapshots`` metadata-table
        role). The numbers that tell an operator when to run
        :meth:`compact_buckets` or re-bucket:

        ``buckets`` maps bucket key → ``{files, rows}`` (physical rows,
        tombstones included); top-level: ``files``, ``rows``,
        ``files_per_bucket_max/mean``, ``rows_per_bucket_max/mean``,
        ``bucket_skew`` (max/mean rows — hot-key indicator), ``schema_groups``
        (distinct write-schemas still live — how much alignment every read
        pays), ``snapshots`` (log length — expire_snapshots pressure)."""
        snap = self.snapshot(snapshot_id)
        entries = self.files(snap)
        per: dict[str, dict] = {}
        for fe in entries:
            key = _NO_BUCKET if fe.bucket is None else str(fe.bucket)
            b = per.setdefault(key, {"files": 0, "rows": 0})
            b["files"] += 1
            b["rows"] += max(0, fe.rows)
        files = sum(b["files"] for b in per.values())
        rows = sum(b["rows"] for b in per.values())
        nb = max(1, len(per))
        mean_rows = rows / nb
        max_rows = max((b["rows"] for b in per.values()), default=0)
        return {
            "files": files,
            "rows": rows,
            "buckets": per,
            "bucket_count": snap.get("bucket_count"),
            "files_per_bucket_max": max(
                (b["files"] for b in per.values()), default=0),
            "files_per_bucket_mean": files / nb,
            "rows_per_bucket_max": max_rows,
            "rows_per_bucket_mean": mean_rows,
            "bucket_skew": (max_rows / mean_rows) if mean_rows else 0.0,
            "schema_groups": len({fe.schema_id for fe in entries}),
            "snapshots": len(self._versions()),
        }

    def maintenance_plan(
        self,
        max_files_per_bucket: int = 8,
        target_rows_per_bucket: int = 10_000_000,
        max_snapshots: int = 1_000,
    ) -> dict:
        """Turn :meth:`table_stats` into concrete actions — the decision an
        operator (or a scheduler) makes per table per maintenance window,
        from metadata only:

        * ``compact_buckets``: bucket keys holding > ``max_files_per_bucket``
          files (small-file accumulation from merges; pass the list straight
          to :meth:`compact_buckets`);
        * ``compact_unbucketed``: True when the UNBUCKETED file group
          accumulates past the same threshold — those files are invisible
          to :meth:`compact_buckets`, so the action is a full
          :meth:`compact` (a plan that silently dropped them would tell a
          scheduler "all clear" forever on unbucketed tables);
        * ``rebucket_to``: suggested power-of-two bucket_count when TRUE
          mean rows per bucket (``rows / bucket_count`` — not the mean over
          populated buckets, which skew inflates into shrink-the-table
          advice) exceeds ``target_rows_per_bucket``. Strictly a GROWTH
          lever: only ever larger than the current count, keeping
          copy-on-write merge rewrite units bounded; None when the layout
          is fine (skewed hot keys are not fixable by re-bucketing — see
          ``bucket_skew`` in the stats);
        * ``expire_snapshots``: True when the log exceeds ``max_snapshots``.
        """
        s = self.table_stats()
        compact_keys = sorted(
            int(k) for k, b in s["buckets"].items()
            if k != _NO_BUCKET and b["files"] > max_files_per_bucket
        )
        unbucketed_files = s["buckets"].get(_NO_BUCKET, {"files": 0})["files"]
        rebucket_to = None
        if s["bucket_count"]:
            true_mean = s["rows"] / int(s["bucket_count"])
            if true_mean > target_rows_per_bucket:
                need = int(s["rows"] / target_rows_per_bucket) + 1
                cand = 1 << (need - 1).bit_length()
                if cand > int(s["bucket_count"]):
                    rebucket_to = cand
        return {
            "compact_buckets": compact_keys,
            "compact_unbucketed": unbucketed_files > max_files_per_bucket,
            "rebucket_to": rebucket_to,
            "expire_snapshots": s["snapshots"] > max_snapshots,
            "stats": s,
        }

    def compact_buckets(
        self,
        bucket_keys: list[int] | None = None,
        min_files: int = 2,
        purge_tombstones_below_lsn: int | None = None,
        target_files_per_bucket: int = 1,
    ) -> int:
        """INCREMENTAL compaction: rewrite only the buckets that need it —
        the operation a 100 TB table actually runs (a full :meth:`compact`
        is a whole-table rewrite; Delta's OPTIMIZE equivalently works file-
        group by file-group, ``core/spark_delta.py:144-150``).

        ``bucket_keys=None`` auto-selects every bucket holding ≥
        ``min_files`` files (small-file accumulation from merges/appends).
        Untouched buckets carry forward by manifest REFERENCE, so commit
        metadata is O(touched buckets). Tombstones below the out-of-order
        watermark may be purged in the same pass (the predicate is row-local,
        so purging per-bucket is exactly as safe as globally). Honors the
        ``write.sort_by`` clustering property like every write.

        Returns the new snapshot id (or the current one if nothing needed
        compaction)."""
        snap = self.snapshot()
        if not snap.get("bucket_by"):
            raise ValueError("compact_buckets needs a bucketed table; use compact()")
        manifests = self._require_v2(snap)
        chosen: dict[str, list[FileEntry]] = {}
        for key, mname in manifests.items():
            if key == _NO_BUCKET:
                continue
            if bucket_keys is not None and int(key) not in set(bucket_keys):
                continue
            entries = self._read_manifest(mname)
            if bucket_keys is not None or len(entries) >= min_files:
                chosen[key] = entries
        if not chosen:
            return snap["snapshot_id"]
        affected = [fe for v in chosen.values() for fe in v]
        rows = self._read_files(snap, affected, with_file_col=False)
        if purge_tombstones_below_lsn is not None and META_DELETED in rows.columns:
            rows = rows.filter(
                ~(F.coalesce(F.col(META_DELETED), F.lit(False))
                  & (F.col(META_LSN) < F.lit(purge_tombstones_below_lsn)))
            )
        new_files = self._write_files(
            rows, snap, snap["current_schema_id"],
            n_partitions=max(1, len(chosen) * target_files_per_bucket),
        )
        new_manifests = self._replace_entries(
            snap, {fe.path for fe in affected}, new_files,
            only_keys=set(chosen),
        )
        nxt = self._next_snap(
            snap, "compact", new_manifests,
            {"compacted_buckets": sorted(int(k) for k in chosen),
             "files_before": len(affected), "files_after": len(new_files)},
            None,
        )
        return self._commit(nxt)

    def expire_snapshots(self, keep_last: int = 1,
                         grace_seconds: float = 600.0) -> int:
        """Drop old snapshot JSONs and unreferenced data files (reference
        VACUUM analogue, ``core/spark_delta.py:152-157``).

        Safe to run concurrently with writers AND with another expire run:
        files younger than ``grace_seconds`` are never deleted (Iceberg's
        older-than rule) — an in-flight commit's freshly written,
        not-yet-referenced files survive; nor is anything under a legacy
        ``_staging_`` directory. A file a concurrent expire already removed
        is skipped, not fatal (best-effort GC; the next run reclaims
        whatever this one missed).
        """
        versions = self._versions()
        keep = set(versions[-keep_last:])
        # tagged snapshots are RETENTION-PROTECTED (Iceberg refs rule): a
        # named dataset version must stay re-readable until its tag is
        # dropped, no matter how old it is
        keep |= set(self.tags().values())
        removed = 0
        cutoff_ms = (time.time() - grace_seconds) * 1000
        # Decide which snapshot JSONs go FIRST: everything not kept and past
        # grace (a concurrent reader that just listed versions, or is
        # time-traveling an older snapshot, must not hit FileNotFoundError
        # mid-read). Every snapshot that REMAINS listed — kept or
        # grace-retained — then pins its files and manifests live, so a
        # readable snapshot can never lose data underneath it; retained-old
        # snapshots' files age out together with their JSON on a later pass.
        doomed: set[int] = set()
        for v in versions:
            if v in keep:
                continue
            try:
                if self.fs.mtime_ms(self._log_path(v)) <= cutoff_ms:
                    doomed.add(v)
            except Exception:
                # a concurrent expire removed it between list and stat: it
                # needs no deletion and pins nothing; anything else (real IO
                # failure) must not silently mark a fresh snapshot doomed
                if self.fs.exists(self._log_path(v)):
                    raise
                doomed.add(v)  # gone already; exclude from the live scan
        # second tags read AFTER the doom list is computed: a tag committed
        # concurrently (between the first read and here) un-dooms its
        # snapshot instead of losing it — the residual window is now one
        # metadata read wide instead of spanning the whole stat loop
        doomed -= set(self.tags().values())
        live: set[str] = set()
        live_manifests: set[str] = set()
        for v in versions:
            if v in doomed:
                continue
            try:
                snap = self.snapshot(v)
            except Exception:
                if self.fs.exists(self._log_path(v)):
                    raise  # exists but unreadable: do NOT guess liveness
                continue  # deleted by a concurrent run after our stat
            live_manifests |= set(snap.get("manifests", {}).values())
            live |= {fe.path for fe in self.files(snap)}
        for v in doomed:
            try:
                self.fs.delete(self._log_path(v))
            except Exception:
                pass  # already removed by the concurrent run
        data_root = self.fs.join(self.path, _DATA_DIR)
        for p in self.fs.walk_files(data_root):
            rel = self._uri_to_rel(p)
            if rel in live:
                continue
            if any(comp.startswith("_staging_") for comp in rel.split("/")):
                continue
            try:
                if self.fs.mtime_ms(p) > cutoff_ms:
                    continue
                self.fs.delete(p)
            except Exception:
                continue  # raced with a concurrent expire
            removed += 1
        # orphaned manifests (superseded per-bucket file lists)
        mdir = self.fs.join(self.path, _MANIFEST_DIR)
        for name in self.fs.list_names(mdir):
            if name in live_manifests or not name.startswith("m-"):
                continue
            p = self.fs.join(mdir, name)
            try:
                if self.fs.mtime_ms(p) > cutoff_ms:
                    continue
                self.fs.delete(p)
            except Exception:
                continue  # raced with a concurrent expire
            removed += 1
        return removed


def write_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    mode: str = "append",
    bucket_by: str | None = None,
    bucket_count: int = 16,
    skip_empty: bool = True,
    fence_key: str | None = None,
) -> LakeTable:
    """Mode-validated write entry point — parity with the reference's
    ``write_delta`` (``utils/spark_delta.py:135-209``): modes ``append`` /
    ``overwrite`` / ``ignore`` / ``error``(``ifexists``), empty-DataFrame
    skip (table is still created so downstream readers see the schema),
    create-on-first-write."""
    import warnings

    modes = {"append", "overwrite", "ignore", "error", "errorifexists"}
    if mode not in modes:
        raise ValueError(f"invalid mode {mode!r}; one of {sorted(modes)}")
    exists = LakeTable.exists(path, spark=spark)
    if mode in ("error", "errorifexists") and exists:
        raise FileExistsError(f"table already exists at {path}")
    if mode == "ignore" and exists:
        return LakeTable.load(spark, path)
    if exists:
        t = LakeTable.load(spark, path)
    else:
        try:
            t = LakeTable.create(
                spark, path, df.schema, bucket_by=bucket_by, bucket_count=bucket_count
            )
        except FileExistsError:
            # a concurrent writer won the create race between our exists
            # check and the first commit — load theirs and proceed (append)
            # or honor the mode (error/ignore were handled above with the
            # same outcome a later arrival would see)
            if mode in ("error", "errorifexists"):
                raise
            t = LakeTable.load(spark, path)
            if mode == "ignore":
                return t
    if skip_empty and df.isEmpty():
        warnings.warn(f"empty DataFrame: skipping write to {path}", stacklevel=2)
        return t
    if mode == "overwrite":
        t.overwrite(df, fence_key=fence_key)
    else:
        t.append(df, fence_key=fence_key)
    return t


def _align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project/cast df onto schema, adding missing columns as typed nulls.

    Reference analogue: ``cast_df_to_schema``
    (``parsers/refseq_pipeline/cli/fetch_taxon_reports.py:38-45``)."""
    cols = []
    have = {f.name: f for f in df.schema.fields}
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _check_bucket_type(
    snap: dict, current: T.StructType, evolved: T.StructType
) -> None:
    """Reject a schema evolution that changes the ``bucket_by`` column's
    type. xxhash64 hashes an int and its widened long differently, so rows
    already written would sit in their old-type buckets while later merges
    look the same keys up in their new-type buckets and insert duplicates."""
    col = snap.get("bucket_by")
    if not col:
        return
    old, new = current[col].dataType, evolved[col].dataType
    if old != new:
        raise SchemaEvolutionError(
            f"cannot change the type of bucket column {col}: "
            f"{old.simpleString()} -> {new.simpleString()}; its bucket "
            f"placement depends on its type"
        )


def reconcile_schemas(
    current: T.StructType, incoming: T.StructType
) -> tuple[T.StructType, bool]:
    """Arrow-style schema reconciliation: added columns append, numeric types
    widen along a fixed lattice; anything else is an error.

    Reference analogue: ``mergeSchema=true`` on every Delta append
    (``utils/spark_delta.py:195-196``), made explicit because MERGE does not
    auto-evolve."""
    cur = {f.name: f for f in current.fields}
    out = list(current.fields)
    changed = False
    for f in incoming.fields:
        if f.name not in cur:
            out.append(T.StructField(f.name, f.dataType, nullable=True))
            changed = True
            continue
        c = cur[f.name]
        if c.dataType == f.dataType:
            continue
        a, b = c.dataType.typeName(), f.dataType.typeName()
        if (a, b) in _WIDEN:
            wide = _WIDEN[(a, b)]
            idx = [i for i, x in enumerate(out) if x.name == f.name][0]
            out[idx] = T.StructField(f.name, getattr(T, {
                "long": "LongType", "integer": "IntegerType",
                "double": "DoubleType", "short": "ShortType",
            }[wide])(), nullable=True)
            changed = True
        elif (b, a) in _WIDEN:
            continue  # incoming is narrower; cast up on align
        else:
            raise SchemaEvolutionError(
                f"cannot evolve column {f.name}: {a} -> {b}"
            )
    return T.StructType(out), changed
