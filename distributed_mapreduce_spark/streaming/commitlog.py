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

One class, `ManifestStore`, carries the chain in either of two on-disk
layouts, each declared once as data (`Layout`: manifest path, data
dir, whether the id is stamped into the payload); each store's own
code picks its layout:

* `INGEST` — a CENTRAL manifest directory
  (`store/_manifests/<batch>.json`, payload stamped with `batch`)
  gating per-batch data dirs (`store[/subdir]/batch=<id>/...`). Used
  by the five ingest sinks (dedup, ANN, SemDeDup, decontam, clean);
  batch ids are the stream checkpoint's batch ids.

* `VERSIONED` — a PER-VERSION manifest (`v=<id>/_touched.json`)
  carrying the partition set that version rewrote plus pinned store
  invariants. Used by the two versioned stores, the partition-scoped
  CDC table store and the KV serving store, where the manifest payload
  (the touched-partition list) is itself the read-time routing table.

In both, `SEED = -1` is the one id no stream batch ever gets — the
slot a compactor's fold seeds a FRESH store with, after recording the
store's history floor (`ManifestStore.seed`). `chain_as_of` is every
store's VERSION AS OF: it truncates the chain and refuses a read below
the floor exactly when the read would surface seed data.

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
from typing import NamedTuple


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


def read_history_floor(store) -> int | None:
    """The store's history floor — the newest batch or version of the
    source chain its seed folds (`ManifestStore.seed` writes it) — or
    None for a store never compacted."""
    rec = read_json_tolerant(pathlib.Path(store) / HISTORY_FLOOR)
    return None if rec is None else rec["floor"]


class Layout(NamedTuple):
    """A chain's on-disk layout: `manifest` and `data` are paths under
    the store root with `{}` standing for the batch or version id, and
    `stamp` says whether `commit` stamps the id into the payload as
    `batch` (for debuggability)."""

    manifest: str
    data: str
    stamp: bool


# The five ingest stores: a central manifest dir gating
# `root[/subdir]/batch=<id>/...` data dirs.
INGEST = Layout("_manifests/{}.json", "batch={}", True)
# The CDC table and KV serving stores: each version's manifest sits in
# its own `v=<id>` dir and lists the partitions it rewrote.
VERSIONED = Layout("v={}/_touched.json", "v={}", False)


class ManifestStore:
    """A store's committed chain, in the `layout` its store code picks
    (`INGEST` unless given)."""

    SEED = -1  # the compaction-seed id; no stream batch is ever -1

    def __init__(self, root, layout: Layout = INGEST):
        self.root = pathlib.Path(root)
        self.layout = layout

    def manifest_path(self, batch_id: int) -> pathlib.Path:
        return self.root / self.layout.manifest.format(batch_id)

    def is_committed(self, batch_id: int) -> bool:
        """Parse-verified, not a bare exists() check — the committed
        definition is EXISTS and PARSES. A torn manifest (power loss
        after the rename but before its data reached disk) must read
        as UNCOMMITTED here too: the sink's redelivery short-circuit
        keys off this, and a bare exists() would skip the replay while
        every reader skips the batch — data invisible forever."""
        return read_json_tolerant(self.manifest_path(batch_id)) is not None

    def manifests(self, below: int | None = None) -> list[tuple[int, dict]]:
        """(id, payload) for every committed id ascending, only ids <
        `below` when given (newer manifests are not even read). int()
        parse (not isdigit) so the -1 seed is admitted; a non-integer
        entry and unparseable CONTENT are skipped (torn manifest =
        uncommitted)."""
        out = []
        for b, p in self._entries(self.layout.manifest):
            if below is not None and b >= below:
                continue
            payload = read_json_tolerant(p)
            if payload is not None:
                out.append((b, payload))
        return sorted(out, key=lambda t: t[0])

    def data_dirs(self) -> list[tuple[int, pathlib.Path]]:
        """(id, dir) of every top-level data dir, committed or not —
        what vacuum walks; a non-integer entry is skipped."""
        return self._entries(self.layout.data)

    def _entries(self, template: str) -> list[tuple[int, pathlib.Path]]:
        head, tail = template.split("{}")
        out = []
        for p in self.root.glob(template.format("*")):
            rel = p.relative_to(self.root).as_posix()
            try:
                b = int(rel[len(head) : len(rel) - len(tail)])
            except ValueError:
                continue  # a foreign entry, not an id
            out.append((b, p))
        return out

    def commit(self, batch_id: int, payload: dict) -> None:
        """Make `batch_id` visible — call LAST, after every data file
        of the batch is fully written. The manifest's dir is created
        here: a versioned store's version that emptied every partition
        it touched wrote no data files, so its manifest is the whole
        version."""
        path = self.manifest_path(batch_id)
        path.parent.mkdir(parents=True, exist_ok=True)
        if self.layout.stamp:
            payload = {"batch": batch_id, **payload}
        atomic_write_json(path, payload)

    def seed(self, payload: dict, floor: int | None = None) -> None:
        """Commit the compaction seed (SEED = -1), the one slot a FRESH
        store's fold lands in (see sinks.compact_ingest_store for why
        in-place compaction can never pick a safe id). A compactor
        passes `floor`, the newest source id its seed folds; it is
        written BEFORE the seed manifest, so a crash in between leaves
        a store with no committed seed (unreadable), never a readable
        store missing its floor."""
        if floor is not None:
            atomic_write_json(self.root / HISTORY_FLOOR, {"floor": floor})
        self.commit(self.SEED, payload)

    def batch_dir(self, batch_id: int, subdir: str | None = None) -> pathlib.Path:
        base = self.root / subdir if subdir else self.root
        return base / self.layout.data.format(batch_id)

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
        """Leaf dirs `[subdir/]batch=<id>/<leaf>=<k>` for k ∈ `buckets`,
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

    def leaf_dirs(self, current: dict[int, int], partitions=None) -> list[str]:
        """Existing leaf dirs `v=<v>/p=<p>` of a versioned store's
        partition map (partition_versions), restricted to `partitions`
        (in their order) when given. A mapped partition with no dir was
        emptied by its newest rewrite (touched-but-absent = empty), so
        it contributes no path."""
        out = []
        for p in current if partitions is None else partitions:
            if p in current:
                d = self.batch_dir(current[p]) / f"p={p}"
                if d.exists():
                    out.append(str(d))
        return out

    def chain_as_of(self, as_of: int | None, dirs_of) -> tuple[list, list[str]]:
        """(chain, dirs) of a read VERSION AS OF `as_of` (None = the
        head): the committed chain truncated to ids ≤ `as_of`, and
        `dirs_of(chain)`, the data dirs the read consumes. Raises
        FileNotFoundError on an empty chain, and below a compacted
        store's history floor exactly when one of the dirs is seed
        data: the seed holds the HEAD state of the whole pre-compaction
        chain, so surfacing it under an older id would fabricate
        history. Below the floor a read stays possible when it
        resolves past the seed: the documented resume restarts batch
        ids at 0 in the compacted store, so a new-chain version that
        rewrote every partition the read needs (or an ingest seed with
        no rows under the read's subdir) is an unambiguous new-chain
        state."""
        chain = self.manifests(None if as_of is None else as_of + 1)
        if not chain:
            raise FileNotFoundError(
                f"no committed version under {self.root}"
                + ("" if as_of is None else f" at or below as_of={as_of}")
            )
        dirs = dirs_of(chain)
        floor = None if as_of is None else read_history_floor(self.root)
        seed = self.layout.data.format(self.SEED)
        if (
            floor is not None
            and as_of < floor
            and any(seed in pathlib.Path(d).relative_to(self.root).parts for d in dirs)
        ):
            raise FileNotFoundError(
                f"as_of={as_of} sits below this store's compaction boundary "
                f"(history floor {floor}) and the read would surface the "
                f"{seed} seed — pre-compaction history is gone and the "
                "seed's head state would fabricate it"
            )
        return chain, dirs


def partition_versions(manifests: list[tuple[int, dict]]) -> dict[int, int]:
    """partition value -> newest version in `manifests` (an ascending
    VERSIONED chain) that rewrote it. Folding manifests in version
    order is the read-time analog of the merge itself: later rewrites
    shadow earlier ones. Taking the already-listed chain lets each
    caller keep one manifest scan."""
    current: dict[int, int] = {}
    for v, payload in manifests:
        for p in payload["touched"]:
            current[p] = v
    return current
