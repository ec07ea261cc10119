"""THE commit protocol for manifest-gated sinks, defined once (VERDICT
r9 #3).

Every exactly-once-without-a-transaction-log sink in this repo commits
the same way — stage the batch's data files, then make the batch
visible with ONE atomic driver-side rename of a small JSON manifest
(the reference's temp-file+rename idiom, worker.go:184-198, lifted to
the batch level). Before this module, five sinks hand-rolled the
listing/commit/seed steps independently (streaming/sinks.py grew
~150 lines per round); now the idiom lives here and its torn-write /
replay edge cases are tested once (tests/test_commitlog.py) instead of
per sink.

Two physical layouts share the idiom:

* `ManifestStore` — a CENTRAL manifest directory
  (`store/_manifests/<batch>.json`) gating per-batch data dirs
  (`store[/subdir]/batch=<id>/...`). Used by the five ingest sinks
  (dedup, ANN, SemDeDup, decontam, clean); batch ids are the stream
  checkpoint's batch ids,
  and `SEED = -1` is the one id no stream batch ever gets — the slot
  a compactor's fold seeds a FRESH store with (see
  sinks.compact_ingest_store for why in-place compaction can never
  pick a safe id).

* `VersionManifests` — a PER-VERSION manifest (`v=<id>/_touched.json`)
  carrying the partition set that version rewrote plus pinned store
  invariants. Used by the two versioned stores, the partition-scoped
  CDC table store and the KV serving store, where the manifest payload
  (the touched-partition list) is itself the read-time routing table.

Commit visibility contract (both layouts): a manifest that EXISTS and
PARSES is a committed batch; anything else — absent, half-written by a
crash between file creation and data reaching disk — is uncommitted,
so readers skip it and redelivery overwrites it. `os.replace` makes
the parse-failure window a power-loss-only event, and the tolerant
read keeps even that from bricking the store forever.
"""

from __future__ import annotations

import json
import os
import pathlib


def atomic_write_json(path, payload: dict) -> None:
    """Write `payload` at `path` via temp+rename — the atomic-commit
    primitive. A reader never observes a partially-written file at
    `path`; either the old content (or absence) or the full new
    payload."""
    path = pathlib.Path(path)
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(json.dumps(payload))
    os.replace(tmp, path)


def read_json_tolerant(path) -> dict | None:
    """Parse a manifest; None for absent/unreadable/torn content
    (= uncommitted), never an exception. See the module docstring for
    why torn means uncommitted rather than fatal."""
    try:
        return json.loads(pathlib.Path(path).read_text())
    except (OSError, ValueError):
        return None


HISTORY_FLOOR = "_history_floor.json"


def write_history_floor(store, floor: int) -> None:
    """Record a compacted store's history floor: the newest batch or
    version of the source chain its seed folds. Write it BEFORE the
    seed manifest: a crash in between leaves a store with no committed
    seed (unreadable), never a readable store missing its floor."""
    atomic_write_json(pathlib.Path(store) / HISTORY_FLOOR, {"floor": floor})


def read_history_floor(store) -> int | None:
    """The store's history floor, or None for a store never compacted."""
    rec = read_json_tolerant(pathlib.Path(store) / HISTORY_FLOOR)
    return None if rec is None else rec["floor"]


class ManifestStore:
    """Central-manifest batch chain: `root/_manifests/<batch>.json`
    gates `root[/subdir]/batch=<id>/...` data directories."""

    SEED = -1  # the compaction-seed batch id; no stream batch is ever -1

    def __init__(self, root):
        self.root = pathlib.Path(root)
        self.man_dir = self.root / "_manifests"

    def is_committed(self, batch_id: int) -> bool:
        """Parse-verified, not a bare exists() check — the committed
        definition is EXISTS and PARSES. A torn manifest (power loss
        after the rename but before its data reached disk) must read
        as UNCOMMITTED here too: the sink's redelivery short-circuit
        keys off this, and a bare exists() would skip the replay while
        every reader skips the batch — data invisible forever."""
        return read_json_tolerant(self.man_dir / f"{batch_id}.json") is not None

    def committed(self) -> list[int]:
        """Committed batch ids ascending. int() parse (not isdigit) so
        the -1 seed is admitted; unparseable CONTENT is skipped (torn
        manifest = uncommitted)."""
        return [b for b, _ in self.manifests()]

    def manifests(self) -> list[tuple[int, dict]]:
        """(batch_id, payload) for every committed batch, ascending."""
        out = []
        for p in self.man_dir.glob("*.json"):
            try:
                b = int(p.stem)
            except ValueError:
                continue
            payload = read_json_tolerant(p)
            if payload is None:
                continue
            out.append((b, payload))
        return sorted(out)

    def commit(self, batch_id: int, payload: dict) -> None:
        """Make `batch_id` visible — call LAST, after every data file
        of the batch is fully written. `batch` is stamped into the
        payload for debuggability."""
        self.man_dir.mkdir(parents=True, exist_ok=True)
        atomic_write_json(
            self.man_dir / f"{batch_id}.json", {"batch": batch_id, **payload}
        )

    def seed(self, payload: dict) -> None:
        """Commit the compaction seed (batch = SEED = -1): the one slot
        a FRESH store's fold lands in (see module docstring)."""
        self.commit(self.SEED, payload)

    def batch_dir(self, batch_id: int, subdir: str | None = None) -> pathlib.Path:
        base = self.root / subdir if subdir else self.root
        return base / f"batch={batch_id}"

    def batch_dirs(
        self,
        subdir: str | None = None,
        manifests: list[tuple[int, dict]] | None = None,
    ) -> list[str]:
        """Existing data dirs of committed batches, ascending batch
        order — the read-side universe (a torn batch write is invisible
        because its manifest never landed). Pass `manifests` to derive
        the dirs from an already-taken snapshot: a compactor that
        re-lists between its data read and its sidecar read can catch
        a batch a live stream committed in between, folding its ids
        without its data (or vice versa) — one snapshot, every dir set
        derived from it."""
        chain = self.manifests() if manifests is None else manifests
        return [
            str(d) for b, _ in chain if (d := self.batch_dir(b, subdir)).exists()
        ]

    def pruned_partition_dirs(
        self,
        buckets,
        subdir: str | None = None,
        manifests: list[tuple[int, dict]] | None = None,
        touched_key: str = "touched",
        leaf: str = "p",
    ) -> list[str]:
        """Leaf dirs `batch=<id>[/subdir]/<leaf>=<k>` for k ∈ `buckets`,
        committed batches only — the bucket-pruned read (VERDICT r9
        #1): a membership probe or keyed fetch lists ONLY the
        partitions its keys hash into, never the whole committed
        store. Each manifest's `touched` list (the non-empty buckets
        its batch wrote) prunes the filesystem walk too: a batch that
        never wrote bucket k is skipped without a stat call. A manifest
        MISSING the key entirely (written by something other than this
        repo's sinks) means UNKNOWN, not empty — every wanted bucket is
        stat-checked for it, so pruning degrades to correctness, never
        to silent data loss. Pass `manifests` to reuse an
        already-listed chain. `touched_key` selects which manifest
        list prunes the walk — a sidecar bucketed on a DIFFERENT hash
        domain (the clean-ingest fingerprint sidecar) records its own
        list under its own key; the SemDeDup member store prunes its
        `cell=<c>` leaves by each manifest's `cells` list the same way
        (`touched_key="cells", leaf="cell"`)."""
        want = set(buckets)
        out = []
        for b, payload in self.manifests() if manifests is None else manifests:
            touched = payload.get(touched_key)
            hit = want if touched is None else want.intersection(touched)
            if not hit:
                continue
            base = self.batch_dir(b, subdir)
            for k in sorted(hit):
                d = base / f"{leaf}={k}"
                if d.exists():
                    out.append(str(d))
        return out


class VersionManifests:
    """Per-version-manifest chain: `store/v=<id>/_touched.json`, where
    the payload carries the partition values the version rewrote plus
    pinned store invariants (n_buckets / ordered / key)."""

    MANIFEST = "_touched.json"

    def __init__(self, store_path):
        self.store = pathlib.Path(store_path)

    def version_dir(self, version: int) -> pathlib.Path:
        return self.store / f"v={version}"

    def commit(
        self,
        version: int,
        touched: list[int],
        n_buckets: int,
        ordered: bool = False,
        key: str | None = None,
        schema: list | None = None,
        bucket_expr: str | None = None,
    ) -> None:
        """Make a version visible — call LAST. `touched` lists the
        partition values this version rewrote, INCLUDING ones it
        emptied (touched-but-absent-as-dir means EMPTY, not unknown).
        The version dir is created here because a version that emptied
        EVERY partition it touched wrote no data files at all — its
        manifest is the whole version. `schema` (optional, [[name,
        ddl], ...]) records the snapshot schema AS OF this version —
        the anchor mergeSchema evolution needs so a time-travel read
        below a column addition returns the old schema and a read
        above it can type the NULL pad for partitions never rewritten
        since. `bucket_expr` names the partition-routing expression
        when it is NOT the CDC default pmod(xxhash64(key), n) — e.g.
        the KV serving store's 'key2shard' — so maintenance jobs that
        REWRITE partitions (compact_store_partitioned) re-bucket with
        the same expression instead of silently scattering every row
        (r16; absent = the xxhash64 default)."""
        self.version_dir(version).mkdir(parents=True, exist_ok=True)
        payload = {
            "touched": sorted(touched),
            "n_buckets": n_buckets,
            "ordered": ordered,
            "key": key,
        }
        if schema is not None:
            payload["schema"] = [[n, d] for n, d in schema]
        if bucket_expr is not None:
            payload["bucket_expr"] = bucket_expr
        atomic_write_json(self.version_dir(version) / self.MANIFEST, payload)

    def committed(self, below: int | None = None) -> list[tuple[int, dict]]:
        """(version, payload) for every committed version ascending;
        torn payloads are uncommitted (see module docstring)."""
        out = []
        for p in self.store.glob("v=*"):
            v = int(p.name.split("=", 1)[1])
            if below is not None and v >= below:
                continue
            payload = read_json_tolerant(p / self.MANIFEST)
            if payload is None:
                continue
            out.append((v, payload))
        return sorted(out)

    def leaf_dirs(self, current: dict[int, int], partitions=None) -> list[str]:
        """Existing leaf dirs `v=<v>/p=<p>` of a partition map
        (partition_versions), restricted to `partitions` when given. A
        mapped partition with no dir was emptied by its newest rewrite
        (touched-but-absent = empty), so it contributes no path."""
        out = []
        for p in current if partitions is None else partitions:
            if p in current:
                d = self.version_dir(current[p]) / f"p={p}"
                if d.exists():
                    out.append(str(d))
        return out


def partition_versions(manifests: list[tuple[int, dict]]) -> dict[int, int]:
    """partition value -> newest version in `manifests` (an ascending
    VersionManifests.committed chain) that rewrote it. Folding
    manifests in version order is the read-time analog of the merge
    itself: later rewrites shadow earlier ones. Taking the
    already-listed chain lets each caller keep one manifest scan."""
    current: dict[int, int] = {}
    for v, payload in manifests:
        for p in payload["touched"]:
            current[p] = v
    return current
