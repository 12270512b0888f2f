"""Manifest catalog over a pluggable storage backend.

Replaces the reference's PostgreSQL catalog
(`/root/reference/migrations/0001_base.up.sql:1-21`: tables
``indexes(name, config)`` and ``index_files(id, index_name,
file_name, len, footer_len)``) with a JSON manifest on the same
storage the data lives on — the Delta-log pattern, minus the
dependency. The storage seam (`toshokan_spark/storage.py`) makes the
catalog work identically on a local fs and on object storage
(``s3a://`` etc. via the Hadoop FileSystem connectors), mirroring the
reference's dual fs/S3 OpenDAL operators
(`/root/reference/tests/config.rs:133-233`).

Guarantees preserved from the reference:

* **commit order**: segment data is fully written *before* the
  manifest references it (`src/commands/mod.rs:147-187`) — a crash
  leaves an orphan directory, never a dangling manifest entry;
* **atomic manifest updates with optimistic concurrency**: the
  manifest is a versioned log (``manifests/<index>/v<N>.json``, each
  file a full snapshot — manifests are tiny); every mutation
  compare-and-swaps the next version via exclusive create (a fully
  written temp file hard-linked into place locally, renamed without
  overwrite on Hadoop — atomic on HDFS, Delta-on-S3-grade best-effort
  on object stores; never visible half-written) and retries on
  conflict by re-reading and re-applying. Two concurrent ingest jobs
  can commit segments to the same index without losing either (the
  reference gets this from Postgres transactions);
* **search reads only manifested segments** — and unlike the
  reference, filtered by index name (the reference opens every file of
  every index, `src/commands/mod.rs:107` has no WHERE clause; SURVEY
  §3.1 flags it as a latent bug — we fix it and regression-test it).

At 100 TB the manifest stays tiny (one compact JSON object per
segment, i.e. per committed write batch, plus each distinct segment
schema once), and listing is O(manifest), never a recursive
object-store LIST.
"""

from __future__ import annotations

import hashlib
import json
import secrets
import time
from dataclasses import asdict, dataclass
from typing import Optional

from toshokan_spark.config import IndexConfig
from toshokan_spark.storage import (
    HadoopStorage,
    Storage,
    StorageNotFound,
    join_path,
    storage_for,
    strip_file_scheme as _strip_file_scheme,  # re-export (legacy name)
)

__all__ = [
    "CatalogError",
    "DeleteEntry",
    "FsCatalog",
    "SegmentEntry",
    "uuid7",
    "_strip_file_scheme",
]


def uuid7() -> str:
    """Time-ordered UUIDv7 (RFC 9562) — segment ids sort by creation
    time, like the reference's uuid7 batch ids
    (`src/commands/index.rs:96`)."""
    ms = int(time.time() * 1000)
    rand_a = secrets.randbits(12)
    rand_b = secrets.randbits(62)
    b = ms.to_bytes(6, "big") + (
        (0x7 << 12 | rand_a).to_bytes(2, "big")
    ) + ((0b10 << 62 | rand_b).to_bytes(8, "big"))
    h = b.hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _schema_id(schema: dict) -> str:
    """Short content hash of a recorded segment schema: its key in a
    manifest version's ``schemas`` map."""
    canon = json.dumps(schema, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(canon.encode("utf-8")).hexdigest()[:16]


def _encode_manifest(
    segs: "list[SegmentEntry]", deletes: "Optional[list[DeleteEntry]]"
) -> str:
    """One manifest version as compact JSON. Each distinct segment
    schema is stored once, in ``schemas``; an entry holds its id."""
    schemas: dict = {}
    ids: dict = {}  # id(schema object) -> content id; entries share objects
    out = []
    for s in segs:
        d = asdict(s)
        if s.schema is not None:
            sid = ids.get(id(s.schema))
            if sid is None:
                sid = ids[id(s.schema)] = _schema_id(s.schema)
            schemas[sid] = s.schema
            d["schema"] = sid
        out.append(d)
    doc: dict = {"segments": out}
    if schemas:
        doc["schemas"] = schemas
    if deletes:
        doc["deletes"] = [asdict(d) for d in deletes]
    return json.dumps(doc, separators=(",", ":"))


def _decode_manifest(
    doc: dict,
) -> "tuple[list[SegmentEntry], list[DeleteEntry]]":
    """Entries of one manifest version, schemas expanded inline. An id
    missing from ``schemas`` reads as no recorded schema (the scan
    infers it), never as an error."""
    schemas = doc.get("schemas", {})
    segs = []
    for s in doc.get("segments", []):
        if isinstance(s.get("schema"), str):
            s = dict(s, schema=schemas.get(s["schema"]))
        segs.append(SegmentEntry(**s))
    return segs, [DeleteEntry(**d) for d in doc.get("deletes", [])]


@dataclass
class SegmentEntry:
    """One committed write batch (≈ one reference 'unified index file',
    `migrations/0001_base.up.sql:10-16`)."""

    id: str
    file_name: str  # segment directory name under the index path
    num_rows: int
    created_at_ms: int
    #: stream micro-batch id that produced this segment (None for
    #: batch ingestion). Replaying a checkpointed batch after a crash
    #: finds its id already manifested and skips the commit — upgrading
    #: the reference's at-least-once offset contract
    #: (`kafka_source.rs:380-394`: duplicates possible on crash between
    #: upload and checkpoint save) to exactly-once segments.
    batch_id: Optional[str] = None
    #: time_field day range covered by this segment (ISO dates,
    #: inclusive), recorded at write time. Enables MANIFEST-LEVEL
    #: pruning: a time-bounded query drops non-overlapping segments
    #: before any Spark plan is built — at 10k segments this collapses
    #: the scan to just the overlapping few paths (the Delta/Iceberg
    #: file-statistics pattern; the time-sorted files' row-group stats
    #: still prune WITHIN survivors).
    min_day: Optional[str] = None
    max_day: Optional[str] = None
    #: per-NUMBER-field [min, max] zone maps recorded at write time
    #: (``{"tenant_id": [3, 97]}``) — the numeric analog of the day
    #: range: a range/comparison/equality query on the field drops
    #: non-overlapping segments at the manifest, before any Spark plan
    #: exists. None (old manifests, empty segments) means "cannot
    #: prune on this segment", never "prune it".
    field_stats: Optional[dict] = None
    #: per-TOKENIZED-text-field token Bloom filters
    #: (``{"body": {"m": bits, "k": hashes, "b64": bitset}}``) — the
    #: manifest-level skip index for term queries on tokenized fields
    #: (functions/bloom.py): a required query token provably absent
    #: from a segment's bloom drops the segment before any plan is
    #: built. None = cannot prune (old manifests, over-cap vocab).
    token_blooms: Optional[dict] = None
    #: per-NUMBER-field ``[non_null_count, "decimal-sum"]`` recorded at
    #: write time (``{"value": [512, "10431.220000"]}``) — the additive
    #: complements of the zone maps above. Together with ``num_rows``
    #: and the ``[min, max]`` zone maps these make the whole stats
    #: panel (count / min / max / sum / avg) a MANIFEST-ONLY read for
    #: match-all queries: at 10k segments over 100 TB that is one JSON
    #: read and zero data scans. Sums are decimal(38,6) folds
    #: serialized as strings so the JSON round-trip is exact; they
    #: combine across segments by plain Decimal addition, order-free.
    #: None = old manifest, fall back to scanning.
    field_sums: Optional[dict] = None
    #: per-configured-NUMBER-field fixed-width histogram recorded at
    #: write time (``{"value": {"w": 50.0, "bins": {"0.0": 12, ...}}}``
    #: — bin keys are repr(float) of the floor(v/w)*w lower bound,
    #: counts exact ints). Additive across segments like
    #: ``field_sums``; a match-all numeric-histogram panel at the
    #: recorded width is then a MANIFEST-ONLY read. None = field not
    #: configured (``FieldConfig.histogram_bin``) or old manifest.
    field_histograms: Optional[dict] = None
    #: the Spark schema a parquet read of this segment resolves to
    #: (``StructType.jsonValue()``), recorded at commit from the read
    #: the writer already makes. Search builds the scan from it
    #: instead of inferring it from the parquet footers, which costs a
    #: Spark job per query (`search.read_segments`, which also drops
    #: the day column that segments of the old day-directory layout
    #: recorded). On storage each distinct schema is written once per
    #: manifest version, in the version's ``schemas`` map, and the
    #: entry holds its content id; reads expand it back, so callers
    #: always see the schema itself. None = old manifest: the scan
    #: infers the schema.
    schema: Optional[dict] = None


@dataclass
class DeleteEntry:
    """A pending delete-by-query tombstone (versioned in the manifest
    next to the segments). The query is stored in the index's OWN
    search language — auditable, replayable, and compiled fresh at
    read time against whatever schema the scan resolves.

    Semantics: a PREDICATE tombstone, not a row set — every read
    anti-filters the whole index with the compiled query until a merge
    physically materializes the delete (rewrites survivors, clears the
    entry). Rows ingested AFTER the delete that match it are therefore
    also masked; for the compliance use-case this is the conservative
    direction (matching data cannot resurface through re-ingestion
    while the tombstone is pending). Time travel applies the deletes
    OF THE QUERIED VERSION — a pre-delete snapshot still shows the
    rows, exactly as Iceberg/Delta snapshot semantics prescribe."""

    id: str
    query: str
    created_at_ms: int


class CatalogError(RuntimeError):
    pass


class FsCatalog:
    """Catalog rooted at ``root`` — a local directory or an object
    store prefix (scheme-routed via :func:`storage_for`; pass
    ``storage`` to override, e.g. force the Hadoop backend in tests).
    """

    def __init__(self, root: str, storage: Optional[Storage] = None):
        self.root = root
        self._st = storage if storage is not None else storage_for(root)
        self._st.mkdirs(join_path(root, "indexes"))
        self._st.mkdirs(join_path(root, "manifests"))
        self._st.mkdirs(join_path(root, "aliases"))

    # -- data-path storage --------------------------------------------
    def data_storage(self, config: IndexConfig) -> Storage:
        """Backend for the index's *data* path (may differ from the
        catalog root's backend, e.g. local catalog + s3a data)."""
        if isinstance(self._st, HadoopStorage):
            # one Hadoop instance serves every scheme; also keeps the
            # force-hadoop test hook covering the data plane
            return self._st
        return storage_for(config.path)

    # -- paths ---------------------------------------------------------
    def _config_path(self, name: str) -> str:
        return join_path(self.root, "indexes", f"{name}.json")

    def _manifest_dir(self, name: str) -> str:
        return join_path(self.root, "manifests", name)

    def _version_path(self, name: str, version: int) -> str:
        return join_path(self._manifest_dir(name), f"v{version:020d}.json")

    # -- index lifecycle (`src/commands/create.rs`, `drop.rs`) ---------
    def create_index(self, config: IndexConfig) -> None:
        p = self._config_path(config.name)
        if self._st.exists(p):
            raise CatalogError(f"index {config.name!r} already exists")
        if self._st.exists(self._alias_path(config.name)):
            # resolve() prefers the alias, so the new index would be
            # silently unreachable — reject, mirroring set_alias's
            # converse shadow check
            raise CatalogError(
                f"{config.name!r} is an existing alias; drop it first"
            )
        self._st.write_text_atomic(p, json.dumps(config.to_dict(), indent=2))
        self._st.mkdirs(self._manifest_dir(config.name))
        self._st.write_text_exclusive(
            self._version_path(config.name, 1), _encode_manifest([], None)
        )

    def update_index(self, config: IndexConfig) -> None:
        """ADDITIVE schema evolution: the new config must keep every
        existing field byte-identical (same position, same options)
        and may only APPEND fields; path and time_field are frozen.
        Old segments simply lack the new columns — the multi-segment
        scan null-fills them (mergeSchema / unionByName), manifest
        stats for a new field fall back to scanning until segments
        written under the new schema exist, and pruning stays
        conservative (no zone map -> never pruned). Anything
        non-additive (type change, removal, reorder) is rejected:
        immutable segments cannot be rewritten to match."""
        old = self.get_index(config.name)
        if config.path != old.path:
            raise CatalogError("alter cannot move the index path")
        if config.time_field != old.time_field:
            raise CatalogError("alter cannot change time_field")
        if len(config.fields) < len(old.fields):
            raise CatalogError("alter cannot remove fields")
        for i, f_old in enumerate(old.fields):
            f_new = config.fields[i]
            if asdict(f_new) != asdict(f_old):
                raise CatalogError(
                    f"alter must keep existing field {f_old.name!r} "
                    f"byte-identical (got a change at position {i}); "
                    f"only appending new fields is supported"
                )
        self._st.write_text_atomic(
            self._config_path(config.name),
            json.dumps(config.to_dict(), indent=2),
        )

    # -- aliases (atomic re-point: the blue/green reindex swap) ---------
    def _alias_path(self, name: str) -> str:
        return join_path(self.root, "aliases", f"{name}.json")

    # ------------------------------------------------------------------
    # percolators — standing queries registered against an index (the
    # ES percolator stores queries in an index and matches arriving
    # documents against ALL of them; see search.py::percolate). ONE
    # atomic JSON file PER MONITOR (percolators/<index>/<id>.json):
    # concurrent registrations of different monitors touch different
    # files, so there is no shared read-modify-write to lose updates
    # (the lesson of the manifest CAS chain, without needing versions
    # — monitors are catalog metadata like aliases, not snapshot
    # data). Listing orders by (created_at_ms, query_id) so the
    # percolation output is registration-deterministic.
    # ------------------------------------------------------------------

    def _percolator_dir(self, name: str) -> str:
        return join_path(self.root, "percolators", name)

    def percolators(self, name: str) -> "dict[str, str]":
        """query_id -> query string for *name* (resolved), ordered by
        registration time then id."""
        resolved = self.resolve(name)
        d = self._percolator_dir(resolved)
        try:
            files = self._st.list_names(d)
        except StorageNotFound:
            return {}
        rows = []
        for n in files:
            if n.endswith(".json"):
                doc = json.loads(self._st.read_text(join_path(d, n)))
                rows.append(
                    (doc.get("created_at_ms", 0), n[:-5], doc["query"])
                )
        rows.sort(key=lambda r: (r[0], r[1]))
        return {qid: q for _ts, qid, q in rows}

    def register_percolator(self, name: str, query_id: str, query: str) -> None:
        """Add or REPLACE one standing query (ES PUT semantics). The
        query must parse AND compile against the index's schema — a
        monitor that can never compile must fail here, not halt the
        first percolation (or the ingest stream carrying it)."""
        resolved = self.resolve(name)
        if not self._st.exists(self._config_path(resolved)):
            raise CatalogError(f"unknown index {name!r}")
        if "/" in query_id or query_id in ("", ".", ".."):
            raise CatalogError(f"bad percolator id {query_id!r}")
        config = self.get_index(resolved)
        from toshokan_spark.query_sql import render_query_sql

        # compile against the index's column set — the environment
        # percolate() evaluates in — so a monitor that can never
        # compile (a bad field path, an over-long phrase) fails HERE,
        # not by halting the first percolation or the ingest stream
        # carrying it. A text render: no Spark session needed.
        render_query_sql(query, config, set(config.spark_schema().fieldNames()))
        self._st.mkdirs(self._percolator_dir(resolved))
        self._st.write_text_atomic(
            join_path(self._percolator_dir(resolved), f"{query_id}.json"),
            json.dumps({
                "query": query,
                "created_at_ms": int(time.time() * 1000),
            }),
        )

    def drop_percolator(self, name: str, query_id: str) -> None:
        resolved = self.resolve(name)
        p = join_path(self._percolator_dir(resolved), f"{query_id}.json")
        if not self._st.exists(p):
            raise CatalogError(
                f"no percolator {query_id!r} on index {name!r}"
            )
        self._st.delete_file(p)

    def set_alias(self, alias: str, index: str) -> None:
        """Point *alias* at *index* (create or ATOMIC re-point — the
        zero-downtime reindex pattern: build the new index under a
        fresh name, then swap the alias readers query through). An
        alias may not shadow a real index name."""
        if self._st.exists(self._config_path(alias)):
            raise CatalogError(
                f"{alias!r} is an index name; aliases may not shadow it"
            )
        if not self._st.exists(self._config_path(index)):
            raise CatalogError(f"unknown index {index!r}")
        self._st.write_text_atomic(
            self._alias_path(alias), json.dumps({"index": index})
        )

    def drop_alias(self, alias: str) -> None:
        if not self._st.exists(self._alias_path(alias)):
            raise CatalogError(f"unknown alias {alias!r}")
        self._st.delete_file(self._alias_path(alias))

    def resolve(self, name: str) -> str:
        """Alias -> index name (one hop; a real index name passes
        through). Readers resolve ONCE at entry, so a concurrent
        re-point flips between whole queries, never mid-plan."""
        p = self._alias_path(name)
        if self._st.exists(p):
            return json.loads(self._st.read_text(p))["index"]
        return name

    def aliases(self) -> "dict[str, str]":
        try:
            names = self._st.list_names(join_path(self.root, "aliases"))
        except StorageNotFound:
            return {}
        out = {}
        for n in names:
            if n.endswith(".json"):
                out[n[:-5]] = json.loads(
                    self._st.read_text(join_path(self.root, "aliases", n))
                )["index"]
        return out

    def get_index(self, name: str) -> IndexConfig:
        p = self._config_path(name)
        if not self._st.exists(p):
            raise CatalogError(f"no such index {name!r}")
        return IndexConfig.from_dict(json.loads(self._st.read_text(p)))

    def index_exists(self, name: str) -> bool:
        return self._st.exists(self._config_path(name))

    def list_indexes(self) -> list[str]:
        names = self._st.list_names(join_path(self.root, "indexes"))
        return sorted(f[:-5] for f in names if f.endswith(".json"))

    def drop_index(self, name: str) -> None:
        """Delete catalog rows, then best-effort data deletion — leaked
        files are tolerated and never re-read, exactly the reference's
        stance (`src/commands/drop.rs:11-48`)."""
        config = self.get_index(name)
        self._st.delete_file(self._config_path(name))
        self._st.delete_tree(self._manifest_dir(name))
        # aliases pointing at the dropped index would dangle (resolve
        # to a missing config) — remove them in the same operation
        for alias, target in self.aliases().items():
            if target == name:
                self._st.delete_file(self._alias_path(alias))
        # registered monitors die with their index
        try:
            self._st.delete_tree(self._percolator_dir(name))
        except Exception:
            pass  # best-effort, like data deletion below
        if config.path:
            self.data_storage(config).delete_tree(config.path)

    # -- segment manifest (versioned log + CAS) ------------------------
    #: retry bound for optimistic-concurrency conflicts; each retry
    #: re-reads the latest snapshot and re-applies the mutation
    CAS_RETRIES = 50
    #: versions kept behind the latest (history for debugging /
    #: in-flight readers); older ones are GC'd after each successful
    #: write — without this a 30s-interval stream grows the manifest
    #: dir by ~3k files/day forever
    KEEP_VERSIONS = 10

    def _read_versioned(self, name: str) -> tuple[int, list[SegmentEntry]]:
        ver, segs, _deletes = self._read_versioned_full(name)
        return ver, segs

    def snapshot(
        self, name: str, at_version: Optional[int] = None
    ) -> "tuple[int, list[SegmentEntry], list[DeleteEntry]]":
        """One CONSISTENT ``(version, segments, deletes)`` read — of the
        latest manifest, or of the retained version ``at_version``.
        Callers that need both lists (search, merge) must use this
        instead of separate ``segments()`` + ``deletes()`` calls — two
        reads can straddle a concurrent commit, so the deletes list
        would be from a different snapshot than the segment list that
        chose what to scan or rewrite."""
        if at_version is None:
            return self._read_versioned_full(name)
        try:
            doc = json.loads(
                self._st.read_text(self._version_path(name, at_version))
            )
        except StorageNotFound:
            raise CatalogError(
                f"manifest version {at_version} of {name!r} is GC'd or "
                f"never existed (retained: {self.versions(name)})"
            ) from None
        return (at_version, *_decode_manifest(doc))

    def _read_versioned_full(
        self, name: str
    ) -> "tuple[int, list[SegmentEntry], list[DeleteEntry]]":
        """Latest manifest snapshot. Only *missing* paths read as an
        empty manifest (``StorageNotFound``); any other storage
        failure propagates — a transient auth/network error must not
        silently turn ``segments()`` into 0 rows. The list->read pair
        retries one transient race: a reader stalled more than
        KEEP_VERSIONS commits between listing and reading can find its
        listed latest GC'd, and re-listing observes a strictly newer
        latest. Version files are published whole
        (``Storage.write_text_exclusive``), so a doc that does not
        parse is corrupt, not in flight, and raises."""
        d = self._manifest_dir(name)
        last_exc: Optional[Exception] = None
        for attempt in range(5):
            if attempt:
                time.sleep(0.05 * attempt)
            try:
                names = self._st.list_names(d)
            except StorageNotFound:
                return 0, [], []
            versions = sorted(
                n for n in names if n.startswith("v") and n.endswith(".json")
            )
            if not versions:
                return 0, [], []
            latest = versions[-1]
            ver = int(latest[1:-5])
            try:
                text = self._st.read_text(join_path(d, latest))
            except StorageNotFound as e:
                last_exc = e
                continue
            try:
                doc = json.loads(text)
            except json.JSONDecodeError as e:
                raise CatalogError(
                    f"manifest {latest} of {name!r} is not valid JSON"
                ) from e
            return (ver, *_decode_manifest(doc))
        raise CatalogError(
            f"manifest for {name!r} stayed unreadable across retries "
            f"(its latest version was GC'd under every read)"
        ) from last_exc

    def _try_write_version(
        self,
        name: str,
        version: int,
        segs: list[SegmentEntry],
        deletes: "Optional[list[DeleteEntry]]" = None,
    ) -> bool:
        ok = self._st.write_text_exclusive(
            self._version_path(name, version), _encode_manifest(segs, deletes)
        )
        if ok:
            self._gc_versions(name, version)
        return ok

    def _gc_versions(self, name: str, current: int) -> None:
        """Best-effort deletion of versions more than KEEP_VERSIONS
        behind *current*. Readers always take the LATEST listed
        version, so only a reader stalled for KEEP_VERSIONS commits
        between list and read could miss — it retries. Failures are
        ignored (a leaked old version is harmless)."""
        floor = current - self.KEEP_VERSIONS
        if floor <= 0:
            return
        try:
            for n in self._st.list_names(self._manifest_dir(name)):
                if n.startswith("v") and n.endswith(".json"):
                    if int(n[1:-5]) < floor:
                        self._st.delete_file(join_path(self._manifest_dir(name), n))
        except Exception:
            pass

    def versions(self, name: str) -> list[int]:
        """Retained manifest versions (snapshot ids), oldest first —
        the time-travel horizon. Every commit/merge/create writes a
        new immutable ``v{N}.json``, and GC keeps the trailing
        KEEP_VERSIONS, so any retained version is a consistent
        point-in-time snapshot of the index."""
        try:
            names = self._st.list_names(self._manifest_dir(name))
        except StorageNotFound:
            return []
        return sorted(
            int(n[1:-5])
            for n in names
            if n.startswith("v") and n.endswith(".json")
        )

    def segments(
        self, name: str, at_version: Optional[int] = None
    ) -> list[SegmentEntry]:
        """Manifested segments — latest by default, or the snapshot at
        a retained manifest version (``at_version``, Iceberg/Delta-
        style time travel over the CAS manifest chain). Snapshots are
        guaranteed readable while their segments' data survives:
        append-only history always is; a merge or vacuum deletes
        replaced segments' data, invalidating OLDER snapshots that
        reference them (the Delta-VACUUM caveat) — the manifest read
        still succeeds, the scan fails."""
        return self.snapshot(name, at_version)[1]

    def deletes(
        self, name: str, at_version: Optional[int] = None
    ) -> "list[DeleteEntry]":
        """Pending delete tombstones — latest, or those of a retained
        snapshot (time travel applies the deletes OF that version)."""
        return self.snapshot(name, at_version)[2]

    def add_delete(
        self, name: str, query: str, *, entry: "DeleteEntry | None" = None
    ) -> DeleteEntry:
        """Record a delete-by-query tombstone (one CAS manifest write;
        see :class:`DeleteEntry` for the read/merge semantics).

        *entry* commits a STORED tombstone verbatim — original id and
        ``created_at_ms`` preserved — the snapshot-restore replay path
        (audit parity: the restored manifest shows the delete exactly
        as the snapshotted one did). Without it a fresh id/timestamp
        is minted."""
        if entry is None:
            entry = DeleteEntry(
                id=uuid7(), query=query,
                created_at_ms=int(time.time() * 1000),
            )
        for _ in range(self.CAS_RETRIES):
            ver, segs, dels = self._read_versioned_full(name)
            if self._try_write_version(name, ver + 1, segs, dels + [entry]):
                return entry
        raise CatalogError(f"manifest CAS contention on {name!r}")

    def commit_segment(self, name: str, entry: SegmentEntry) -> bool:
        """Append one segment (data must already be on storage —
        data-first, manifest-second, `src/commands/mod.rs:178-187`).
        Returns False (no-op) when the entry's ``batch_id`` is already
        manifested — the idempotence that makes a replayed stream
        micro-batch exactly-once. Concurrent committers CAS the next
        manifest version; the loser re-reads and re-applies, so no
        commit is ever lost."""
        for _ in range(self.CAS_RETRIES):
            ver, segs, dels = self._read_versioned_full(name)
            if entry.batch_id is not None and any(
                s.batch_id == entry.batch_id for s in segs
            ):
                return False
            if self._try_write_version(name, ver + 1, segs + [entry], dels):
                return True
        raise CatalogError(f"manifest CAS contention on {name!r}")

    def has_batch(self, name: str, batch_id: str) -> bool:
        return any(s.batch_id == batch_id for s in self.segments(name))

    def swap_segments(
        self,
        name: str,
        remove_ids: list[str],
        add: "Optional[SegmentEntry | list[SegmentEntry]]",
        clear_delete_ids: "Optional[list[str]]" = None,
    ) -> None:
        """Atomic replace used by merge/compaction: new segment in, old
        segments out, one manifest write (the reference does this in
        one Postgres transaction, `src/commands/merge.rs:63-66`); CAS
        + retry like commit_segment. ``clear_delete_ids`` drops the
        tombstones the merge MATERIALIZED in the same atomic write —
        deletes recorded after the merge read its snapshot survive the
        swap and stay pending (the CAS re-read preserves them).

        Raises :class:`CatalogError` when any of ``remove_ids`` is no
        longer manifested: another merge from the same snapshot already
        replaced it, and adding this output too would show its rows
        twice."""
        for _ in range(self.CAS_RETRIES):
            ver, segs, dels = self._read_versioned_full(name)
            missing = set(remove_ids) - {s.id for s in segs}
            if missing:
                raise CatalogError(
                    f"swap on {name!r}: segments {sorted(missing)} are no "
                    f"longer manifested (a concurrent merge replaced them)"
                )
            out = [s for s in segs if s.id not in set(remove_ids)]
            if add is not None:
                # a list swaps several in atomically (the cluster-by
                # compaction's range-disjoint outputs)
                out.extend(add if isinstance(add, list) else [add])
            # coverage is re-checked AT SWAP TIME: a segment committed
            # while the merge ran (CAS preserves it in `out`) was never
            # filtered by the merge, so the tombstones must stay
            # pending or its matching rows would resurface — the
            # compliance guarantee DeleteEntry documents
            if clear_delete_ids and not any(
                s.id not in set(remove_ids) for s in segs
            ):
                dels = [d for d in dels if d.id not in set(clear_delete_ids)]
            if self._try_write_version(name, ver + 1, out, dels):
                return
        raise CatalogError(f"manifest CAS contention on {name!r}")

    def segment_paths(self, name: str) -> list[str]:
        """Full segment URIs, scheme preserved — Spark reads these
        directly whatever the backend (file://, s3a://, ...)."""
        config = self.get_index(name)
        return [
            join_path(config.path, s.file_name) for s in self.segments(name)
        ]
