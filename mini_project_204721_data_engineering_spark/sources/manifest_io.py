"""Manifest I/O — the ONE seam between the snapshot/catalog commit
protocol and the storage system underneath it.

Every atomicity claim in the lakehouse layer (`snapshots.py` table
commits, `txn_catalog.py` multi-table catalog commits) reduces to a
single storage primitive: **conditional put** — "create this object at
this key only if nothing exists there, atomically, and tell me whether
I won".  Everything else the commit protocol needs is plain
read/list/overwrite.  This module names that contract as one small
interface, provides the implementations the engine ships with, and
gives deployments a registry hook to bring their own.

The object-store contract
-------------------------

An implementation is correct iff:

1. ``put_if_absent(path, payload)`` is ATOMIC and EXCLUSIVE: of N
   concurrent callers for the same ``path``, exactly one returns True
   and the object then contains exactly that caller's payload; every
   other caller returns False and writes nothing.  Check-then-create
   is NOT acceptable — the check and the create must be one storage
   operation (POSIX ``link(2)`` of a complete temp file, HDFS
   lease-protected ``create(overwrite=false)``, S3 ``If-None-Match: *``
   conditional write, GCS ``x-goog-if-generation-match: 0``, Azure Blob
   ``If-None-Match: *``).
2. ``read_bytes`` after a successful ``put_if_absent`` returns the full
   payload (read-after-write visibility for new objects — true of
   every major object store today).
3. ``list_versions`` eventually reflects committed manifests; the
   commit loop tolerates stale listings (a lost ``put_if_absent``
   resolves the true tip by re-listing and retrying), so listing may
   be eventually consistent, but ``put_if_absent`` may not.

Why the seam exists: Hadoop's ``FileSystem.create(overwrite=false)``
is only atomic where the underlying store makes it so.  On HDFS it is
(namenode lease).  On raw local disk it is NOT (check-then-create —
see :class:`HadoopManifestIO`, which drops to a local ``link(2)`` claim
there).  On ``s3a://`` it is NOT by default (HEAD-then-PUT); an S3 deployment
registers an adapter that issues the native conditional PUT instead of
trusting the Hadoop connector.  Data files, sidecars and scans never
need the seam — plain byte I/O through Hadoop/pyarrow is fine for
them on every store; only the MANIFEST CLAIM needs conditional-put.

Resolution order (:func:`manifest_io_for`): an explicitly registered
scheme always wins; otherwise local/``file:`` paths use the pure-Python
:class:`LocalManifestIO` when no SparkSession is available (the
streaming source's driver-side planner) and :class:`HadoopManifestIO`
when one is; any other scheme falls back to :class:`HadoopManifestIO`
(hdfs and friends) or raises a clear error in sessionless contexts.

Bringing your own adapter (S3/GCS/Azure conditional PUT): implement
the four primitives, then run :func:`certify_manifest_io` against a
scratch prefix on the REAL store — it races concurrent claims and
asserts every clause of the contract above (exclusivity, winner-payload
integrity, loser-writes-nothing, read-after-write, stale-list
tolerance, stray-name filtering, staged-object overwrite), raising a
named violation on the first breach.  The engine's own three
implementations are certified by the same kit in
``tests/test_manifest_io.py`` — an adapter that passes it has exactly
the guarantees the commit protocol's race pins rely on.

:class:`MockObjectStoreIO` (scheme ``mock:``) is the test harness's
emulation of an S3-class store: a flat keyspace backed by a local
directory, reachable ONLY through this interface, with conditional-put
semantics implemented store-side and a fault hook for race injection.
It is registered by default so the Python-DataSource worker processes
(which re-import this module, not the test process's state) resolve it
too; ``spark_path`` maps its keys onto ``file:`` so Spark and pyarrow
can move data bytes while manifests stay behind the interface.
"""

from __future__ import annotations

import json
import os
import re
import tempfile

__all__ = [
    "ManifestIO",
    "LocalManifestIO",
    "HadoopManifestIO",
    "MockObjectStoreIO",
    "register_manifest_io",
    "manifest_io_for",
    "certify_manifest_io",
]

MANIFEST_DIR = "_manifests"
V_FMT = "v%010d.json"
_V_RE = re.compile(r"^v(\d+)\.json$")
_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):")


def path_scheme(path: str) -> str:
    """The URI scheme of ``path``, '' for plain local paths."""
    m = _SCHEME_RE.match(path)
    return m.group(1).lower() if m else ""


def _strip_file(p: str) -> str:
    """file:-scheme paths → local filesystem paths (the ``file:/x``
    and ``file:///x`` spellings Hadoop emits both strip to a POSIX
    path — repeated leading slashes are one root)."""
    if p.startswith("file:"):
        return p[len("file:") :]
    return p


def _names_to_versions(names) -> list[int]:
    out = []
    for name in names:
        m = _V_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


class ManifestIO:
    """The storage contract the commit protocol runs on (module doc)."""

    def list_versions(self, table_dir: str) -> list[int]:
        """Committed manifest versions under ``table_dir/_manifests``."""
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def write_bytes(self, path: str, payload: bytes) -> None:
        """Plain overwrite — staged/scratch objects whose names embed a
        fresh id, never a version claim."""
        raise NotImplementedError

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        """THE commit primitive — atomic exclusive create (contract #1)."""
        raise NotImplementedError

    def spark_path(self, path: str) -> str:
        """Translate a store path to one Spark/pyarrow can move data
        bytes through (identity everywhere Hadoop already speaks the
        scheme; the mock store maps onto ``file:``).

        Contract: the translation must address the SAME physical
        keyspace — bytes written at ``spark_path(p)`` must be what
        ``read_bytes(p)``/listings under ``p`` observe, because data
        files, sidecars, and GC write through the translated spelling
        while commits and the streaming planner address the original.
        True for the mock store (directory-backed, scheme-strip) and
        trivially for every identity translation; an adapter whose
        data plane is NOT Hadoop-reachable must keep data on a
        Hadoop-speaking path and reserve its scheme for manifests."""
        return path

    # shared helpers -------------------------------------------------
    def manifest_path(self, table_dir: str, version: int) -> str:
        return "/".join((table_dir.rstrip("/"), MANIFEST_DIR, V_FMT % version))

    def read_manifest(self, table_dir: str, version: int) -> dict:
        raw = self.read_bytes(self.manifest_path(table_dir, version))
        return json.loads(raw.decode("utf-8"))


class LocalManifestIO(ManifestIO):
    """Pure-Python local-disk implementation — what the streaming
    source's sessionless planner uses for ``file:`` tables, and the
    semantics :class:`HadoopManifestIO` defers to on local paths.
    The conditional put writes and fsyncs a temp file beside the target,
    then publishes it with ``link(2)``, which is kernel-atomic and fails
    if the target exists: a reader sees no manifest or a whole one."""

    def list_versions(self, table_dir: str) -> list[int]:
        d = os.path.join(_strip_file(table_dir), MANIFEST_DIR)
        if not os.path.isdir(d):
            return []
        return _names_to_versions(os.listdir(d))

    def read_bytes(self, path: str) -> bytes:
        with open(_strip_file(path), "rb") as f:
            return f.read()

    def write_bytes(self, path: str, payload: bytes) -> None:
        p = _strip_file(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(payload)

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        p = _strip_file(path)
        d = os.path.dirname(p)
        os.makedirs(d, exist_ok=True)
        # the temp name matches no version pattern, so listings skip it
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".put-", suffix=".tmp")
        try:
            try:
                os.fchmod(fd, 0o644)
                view = memoryview(payload)
                while view:
                    view = view[os.write(fd, view) :]
                os.fsync(fd)
            finally:
                os.close(fd)
            try:
                os.link(tmp, p)
            except FileExistsError:
                return False
        finally:
            os.unlink(tmp)
        return True


class HadoopManifestIO(ManifestIO):
    """Hadoop FileSystem implementation — hdfs:// and every connector
    whose ``create(overwrite=false)`` is genuinely atomic.  Local paths
    drop to :class:`LocalManifestIO` for the conditional put because
    RawLocalFileSystem's create(overwrite=false) is check-then-create
    (two racing local writers can both pass the check — observed under
    an 8-thread append race before this fallback existed)."""

    def __init__(self, spark):
        self._spark = spark
        self._local = LocalManifestIO()

    def _fs(self, path: str):
        jvm = self._spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self._spark._jsc.hadoopConfiguration())
        return fs, jpath, jvm

    def list_versions(self, table_dir: str) -> list[int]:
        glob = "/".join((table_dir.rstrip("/"), MANIFEST_DIR, "v*.json"))
        fs, jpath, _ = self._fs(glob)
        statuses = fs.globStatus(jpath)
        if statuses is None:
            return []
        return _names_to_versions(
            str(s.getPath().getName()) for s in statuses if s.isFile()
        )

    def read_bytes(self, path: str) -> bytes:
        fs, jpath, jvm = self._fs(path)
        stream = fs.open(jpath)
        try:
            return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def write_bytes(self, path: str, payload: bytes) -> None:
        fs, jpath, _ = self._fs(path)
        fs.mkdirs(jpath.getParent())
        stream = fs.create(jpath, True)
        try:
            stream.write(payload)
            stream.hflush()
        finally:
            stream.close()

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        fs, jpath, _ = self._fs(path)
        fs.mkdirs(jpath.getParent())
        uri = jpath.toUri()
        if uri.getScheme() in (None, "file"):
            return self._local.put_if_absent(str(uri.getPath()), payload)
        if fs.exists(jpath):  # cheap fast-path; the create below is the gate
            return False
        try:
            # overwrite=false: atomic exclusive-create on HDFS-like FSes
            stream = fs.create(jpath, False)
        except Exception as e:
            # ONLY already-exists means we lost the race; a permission,
            # quota, or network failure must surface as itself —
            # retrying it 20 times as "writer contention" would bury
            # the real cause.  The exists-family has several spellings:
            # FileAlreadyExistsException, HDFS's
            # AlreadyBeingCreatedException (loser hits the winner's
            # still-open lease), POSIX 'File exists'.
            text = str(e).lower()
            if (
                "alreadyexists" in text.replace(" ", "")
                or "already exists" in text
                or "alreadybeingcreated" in text
                or "file exists" in text
            ):
                return False
            raise
        try:
            stream.write(payload)
            stream.hflush()
        finally:
            stream.close()
        return True


class MockObjectStoreIO(LocalManifestIO):
    """S3-class object store EMULATION for the test harness — a flat
    keyspace at ``mock:<root>/<key>`` backed by the local directory
    ``<root>``, reachable only through this interface.  Every
    operation strips the scheme and delegates to the local impl (the
    store-side conditional put is the same kernel-atomic ``link(2)`` claim
    — the harness's stand-in for S3 ``If-None-Match: *``);
    ``fail_puts_at`` lets a test inject a lost race at an exact key to
    pin the retry loop's behavior.  Stateless by construction (the root
    is in the path), so the Python-DataSource worker processes resolve
    the same store the test process wrote."""

    # test hook: {path_suffix: remaining_failures}
    fail_puts_at: dict = {}

    def _key(self, path: str) -> str:
        if not path.startswith("mock:"):
            raise ValueError(f"not a mock:-store path: {path!r}")
        return path[len("mock:") :]

    def list_versions(self, table_dir: str) -> list[int]:
        return super().list_versions(self._key(table_dir))

    def read_bytes(self, path: str) -> bytes:
        return super().read_bytes(self._key(path))

    def write_bytes(self, path: str, payload: bytes) -> None:
        super().write_bytes(self._key(path), payload)

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        p = self._key(path)
        for suffix, n in list(type(self).fail_puts_at.items()):
            if p.endswith(suffix) and n > 0:
                type(self).fail_puts_at[suffix] = n - 1
                return False  # injected lost race
        return super().put_if_absent(p, payload)

    def spark_path(self, path: str) -> str:
        # data bytes move through file: so Spark/pyarrow can read them;
        # manifests stay behind the interface
        return "file:" + self._key(path)


def certify_manifest_io(
    io: ManifestIO,
    scratch_dir: str,
    writers: int = 8,
    rounds: int = 12,
) -> dict:
    """Adapter certification kit — run a candidate :class:`ManifestIO`
    through every clause of the object-store contract (module doc)
    against a scratch prefix on the REAL store.  Raises
    ``AssertionError`` naming the violated clause on the first breach;
    returns a stats dict on success.  The engine's shipped
    implementations (Local/Hadoop/Mock, including the mock's
    fault-injection hook) all pass — tests/test_manifest_io.py — so a
    deployment adapter that passes has exactly the guarantees the
    commit protocol's race pins rely on.

    What it checks, per round (``rounds`` fresh keys, ``writers``
    barrier-synchronized threads each):

    1. **Exclusivity**: exactly one ``put_if_absent`` winner per key.
    2. **Winner-payload integrity / read-after-write**: the object
       holds the winner's full payload immediately after the claim.
    3. **Losers write nothing**: a later losing put leaves the object
       byte-identical.
    4. **Stale-list tolerance shape**: a writer acting on a stale tip
       LOSES its claim (returns False) and re-listing reveals the true
       tip — the exact recovery the commit retry loop performs.
    5. **Listing**: reflects committed versions sorted, ignores
       non-manifest names.
    6. **Staged overwrite**: ``write_bytes`` replaces staged objects.

    Thread-level concurrency probes the store's atomicity (each claim
    is an independent storage call); the engine's cross-process race
    pins (tests/test_snapshots_multiprocess.py) additionally cover
    multi-JVM commit traffic through the same seam."""
    import threading
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    table = scratch_dir.rstrip("/") + "/certify-" + uuid.uuid4().hex
    stats = {"writers": writers, "rounds": rounds, "losers": 0}
    assert io.list_versions(table) == [], (
        "certify_manifest_io: a fresh prefix must list no versions"
    )
    for v in range(1, rounds + 1):
        key = io.manifest_path(table, v)
        payloads = [
            json.dumps({"writer": w, "v": v, "pad": "x" * 2048}).encode()
            for w in range(writers)
        ]
        barrier = threading.Barrier(writers)

        def claim(w):
            barrier.wait()
            return io.put_if_absent(key, payloads[w])

        with ThreadPoolExecutor(max_workers=writers) as ex:
            results = list(ex.map(claim, range(writers)))
        assert sum(results) == 1, (
            f"certify_manifest_io: round {v} saw {sum(results)} winners — "
            "put_if_absent must be atomic and exclusive (exactly one)"
        )
        winner = results.index(True)
        assert io.read_bytes(key) == payloads[winner], (
            f"certify_manifest_io: round {v} stored bytes are not the "
            "winner's payload — read-after-write or partial-write breach"
        )
        assert io.put_if_absent(key, b'{"op":"interloper"}') is False, (
            f"certify_manifest_io: round {v} put_if_absent returned True "
            "on an existing key"
        )
        assert io.read_bytes(key) == payloads[winner], (
            f"certify_manifest_io: round {v} a LOSING put modified the "
            "object — losers must write nothing"
        )
        stats["losers"] += writers - 1
    # listing: sorted committed versions, stray names ignored
    io.write_bytes(
        "/".join((table, MANIFEST_DIR, "not-a-manifest.txt")), b"stray"
    )
    assert io.list_versions(table) == list(range(1, rounds + 1)), (
        "certify_manifest_io: list_versions must reflect committed "
        "versions in order and ignore non-manifest names"
    )
    # stale-list tolerance: an interloper claims tip+1; a writer still
    # holding the stale tip must LOSE and discover the truth by re-list
    nxt = io.manifest_path(table, rounds + 1)
    assert io.put_if_absent(nxt, b'{"op":"interloper"}') is True
    assert io.put_if_absent(nxt, b'{"op":"stale-writer"}') is False, (
        "certify_manifest_io: a stale writer's claim of an already-"
        "taken version must lose"
    )
    assert io.list_versions(table)[-1] == rounds + 1, (
        "certify_manifest_io: re-listing after a lost claim must reveal "
        "the committed tip"
    )
    # staged objects are plain overwrites
    staged = table + "/_staged/obj"
    io.write_bytes(staged, b"one")
    io.write_bytes(staged, b"two")
    assert io.read_bytes(staged) == b"two", (
        "certify_manifest_io: write_bytes must overwrite staged objects"
    )
    return stats


_REGISTRY: dict = {"mock": MockObjectStoreIO()}


def register_manifest_io(scheme: str, io: ManifestIO) -> None:
    """Deployment hook: route every manifest operation on paths with
    ``scheme`` through ``io`` (e.g. an S3 conditional-PUT adapter).
    Registration is per-process; long-lived services register at
    startup.  Sessionless contexts (the streaming source's planner)
    only see registrations made in THEIR process — prefer stateless
    implementations resolvable from the path alone."""
    _REGISTRY[scheme.lower()] = io


def manifest_io_for(path: str, spark=None) -> ManifestIO:
    """Resolve the manifest IO for ``path`` (module doc has the order)."""
    scheme = path_scheme(path)
    io = _REGISTRY.get(scheme)
    if io is not None:
        return io
    if scheme in ("", "file"):
        return LocalManifestIO() if spark is None else HadoopManifestIO(spark)
    if spark is not None:
        return HadoopManifestIO(spark)
    raise ValueError(
        f"no driver-side manifest IO for scheme {scheme!r} (path {path!r}) "
        "— register one with register_manifest_io(scheme, io); the "
        "sessionless streaming planner cannot reach Hadoop connectors"
    )
