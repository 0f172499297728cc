"""Single-instance coordination (T12).

Re-expresses zookeeper.py:97-139 (ZKLock): at most one copy of a batch
runs per (name, namespace), acquired with a timeout and released on exit.
The reference leans on ZooKeeper ephemeral nodes; this engine has no ZK in
scope, so the lock is a LEASE on shared storage: an atomically-created
lock record carrying (owner, expiry).  A crashed holder's lock self-expires
— the property the reference gets from ephemeral-node session loss — so a
wedged batch can never fence out its replacement forever.

`LeaseLock` uses NO flock, no byte-range locks and no overwriting rename.
The lock is a monotone chain of epoch files in a directory; every state
transition (acquire, renew, release, stale break) is the atomic creation
of the NEXT epoch file, arbitrated purely by create-if-absent.  This is
the HDFS / object-store shape: the only primitives used are atomic
create-if-absent (HDFS ``create(overwrite=false)``, S3 ``If-None-Match:
*`` conditional PUT, GCS ``ifGenerationMatch=0``, ABFS
create-no-overwrite) plus directory listing, so the same protocol runs on
a local disk, a POSIX cluster FS and an object store.  Locally the
create-if-absent publish is emulated with ``os.link`` (atomic, fails if
the destination exists — the POSIX rename-no-overwrite);
`LeaseLock._publish_epoch` is the one seam a real object-store deployment
swaps for its conditional PUT.  The epoch number doubles as a
monotonically-increasing fencing token.

`process_mutex` is a different tool: a blocking kernel flock for
``io.build_once``'s builds on a local disk, released by the kernel the
moment its holder dies.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import time
import uuid


class LockTimeout(TimeoutError):
    """Another live instance holds the lock."""


class LeaseLock:
    """`with LeaseLock(name, namespace, root): ...` — one holder at a time.

    State = the highest-numbered ``e-<n>.json`` file in the lock directory
    (a lease record, or a ``released`` tombstone).  Every transition
    CREATES epoch n+1; it never rewrites or deletes the live record:

    - acquire: if the top epoch is absent/released/expired, publish
      ``e-<n+1>`` with our lease.  Exactly one contender's create-if-absent
      wins — the 8-way stale-break race needs no guard because the create
      IS the arbitration.  A top record that exists but does not parse
      (a publisher died mid-write on a store without atomic create) reads
      as an expired lease, so the next acquirer publishes over it.
    - renew(): publish ``e-<n+1>`` re-asserting ownership; long batches
      call it between stages.  Losing that create means a contender
      observed our lease expired and usurped — we raise LockTimeout
      rather than steal it back.
    - release: publish a ``released`` tombstone at n+1 (only if still the
      owner — a usurped holder publishes nothing).

    After every successful create the publisher re-lists and verifies its
    epoch is still the maximum; this closes the one reuse race GC opens
    (a slow contender re-creating a GC'd low epoch can never see itself
    as top, because GC only ever runs after a higher epoch exists).
    Debris epochs (≤ top - _GC_KEEP) are garbage-collected best-effort by
    later publishers.

    The epoch number is a fencing token: it increases monotonically across
    holders, so downstream writers can reject operations stamped with a
    stale token — the ZooKeeper-recipe property a bare lock file cannot
    give.
    """

    _GC_KEEP = 8  # epochs kept behind top before best-effort deletion

    def __init__(
        self,
        name: str,
        namespace: str,
        root: str,
        lease_seconds: float = 60,
        timeout: float = 10,
        owner: str | None = None,
    ):
        self.lease_seconds = lease_seconds
        self.timeout = timeout
        # unique per INSTANCE, not just per process: two locks in one
        # process (e.g. two publisher threads with serialize_publishes)
        # sharing a pid-only owner would pass each other's ownership
        # checks after a stale break and release() the wrong live lock
        self.owner = owner or f"pid-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        self.acquired = False
        self.dir = os.path.join(root, f"{name}-{namespace}.lockd")
        self.epoch = 0  # last epoch this instance published
        os.makedirs(self.dir, exist_ok=True)

    # -- storage primitives (the object-store seam) --------------------------

    def _list_epochs(self) -> list[int]:
        try:
            names = os.listdir(self.dir)
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            if n.startswith("e-") and n.endswith(".json"):
                try:
                    out.append(int(n[2:-5]))
                except ValueError:
                    continue
        return out

    def _epoch_path(self, n: int) -> str:
        return os.path.join(self.dir, f"e-{n:014d}.json")

    def _publish_epoch(self, n: int, record: dict) -> bool:
        """Atomically create epoch n with `record`; False if it exists.

        Local emulation of conditional PUT: write a complete private tmp
        file, then hard-link it to the epoch name — link is atomic and
        fails with FileExistsError when the destination exists, so readers
        only ever observe complete records and exactly one contender wins
        each epoch.  A real object-store backend replaces this method with
        its conditional create (S3 If-None-Match / GCS generation-0 / HDFS
        create-exclusive); nothing else in the class touches the medium.
        """
        tmp = os.path.join(self.dir, f".tmp-{self.owner}-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(record, f)
        try:
            os.link(tmp, self._epoch_path(n))
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _read_epoch(self, n: int) -> dict | None:
        """Epoch n's record; None if the file is gone (GC'd between list
        and read — the caller re-lists).  A file that exists but does not
        parse is a torn write whose publisher died: it holds nothing, so
        it reads as a lease that has already expired."""
        try:
            with open(self._epoch_path(n)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None
        except (json.JSONDecodeError, UnicodeDecodeError):
            return {"owner": None, "expires_at": 0.0}

    # -- protocol -------------------------------------------------------------

    def _top(self) -> tuple[int, dict | None]:
        """(top epoch number, its record) — (0, None) for a fresh lock."""
        while True:
            epochs = self._list_epochs()
            if not epochs:
                return 0, None
            top = max(epochs)
            rec = self._read_epoch(top)
            if rec is not None:
                return top, rec
            # the top file vanished between list and read: top can only
            # ever be GC'd after a HIGHER epoch exists — re-list finds it

    def _read(self) -> dict | None:
        """Current live lease record ({owner, expires_at}) or None."""
        _, rec = self._top()
        if rec is None or rec.get("released"):
            return None
        return rec

    def _publish_verified(self, n: int, record: dict) -> bool:
        """Create epoch n AND verify it is still the maximum.

        The verify closes the GC reuse race: a contender that stalled long
        enough for its target epoch file to be created, GC'd, and re-tried
        would otherwise win a create for a number BELOW the live top.
        """
        if not self._publish_epoch(n, record):
            return False
        top = max(self._list_epochs())
        if top != n:
            return False  # our file is stale debris below a newer epoch
        self.epoch = n
        self._gc(n)
        return True

    def _gc(self, top: int) -> None:
        for n in self._list_epochs():
            if n <= top - self._GC_KEEP:
                try:
                    os.unlink(self._epoch_path(n))
                except FileNotFoundError:
                    pass  # another publisher's GC got it first

    def acquire(self) -> None:
        deadline = time.time() + self.timeout
        while True:
            n, rec = self._top()
            free = (
                rec is None
                or rec.get("released")
                or rec["expires_at"] < time.time()
            )
            if free:
                if self._publish_verified(
                    n + 1,
                    {
                        "owner": self.owner,
                        "expires_at": time.time() + self.lease_seconds,
                    },
                ):
                    self.acquired = True
                    return
                continue  # lost the create race — re-read the new top
            if time.time() >= deadline:
                raise LockTimeout(
                    f"lock {self.dir} held by {rec['owner']!r}; another "
                    "instance is already running against this source"
                )
            time.sleep(0.05)

    def renew(self) -> None:
        if not self.acquired:
            raise RuntimeError("cannot renew a lock that is not held")
        n, rec = self._top()
        usurped = (
            rec is None or rec.get("released") or rec.get("owner") != self.owner
        )
        if not usurped:
            usurped = not self._publish_verified(
                n + 1,
                {"owner": self.owner, "expires_at": time.time() + self.lease_seconds},
            )
        if usurped:
            # our lease expired and a contender took over mid-run: we are
            # no longer the holder and must NOT publish over the usurper
            self.acquired = False
            holder = rec.get("owner") if rec else "unknown"
            raise LockTimeout(
                f"lease in {self.dir} was taken over by {holder!r}; "
                "this instance lost the lock"
            )

    def release(self) -> None:
        if not self.acquired:
            return
        n, rec = self._top()
        if rec is not None and rec.get("owner") == self.owner and not rec.get("released"):
            # losing this create means a contender just usurped the
            # (expired) lease — the lock is theirs, nothing to release
            self._publish_verified(n + 1, {"released": True, "owner": self.owner})
        self.acquired = False

    # -- context manager (ZKLock usage shape) -------------------------------

    def __enter__(self) -> "LeaseLock":
        self.acquire()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.release()


@contextlib.contextmanager
def process_mutex(base: str):
    """Blocking cross-process critical section rooted at ``base``.

    Used by ``io.build_once`` (one process builds, others wait, all
    re-check existence after acquiring) on a local disk, where a kernel
    flock on ``base/.lock`` is always available.  It is held for exactly
    the build's lifetime and has no expiry to outlive: a long build keeps
    excluding however long it runs, and a crashed builder's lock is
    dropped by the kernel at once, where a lease would block every waiter
    until it expired.
    """
    os.makedirs(base, exist_ok=True)
    fd = os.open(os.path.join(base, ".lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)  # closing drops the flock
