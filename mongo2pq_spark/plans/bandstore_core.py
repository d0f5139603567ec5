"""The persisted-store protocol: one audited implementation behind
every batch-keyed store and the streaming band store.

Stores built on ``BatchStore``:

- ``plans/neardedup_store.py::NearDedupStore`` (MinHash sigs + bands);
- ``plans/mediadedup_store.py::MediaFingerprintStore`` (banded media
  fingerprints);
- ``plans/spanstore.py::SpanHashStore`` (ExactSubstr span hashes);
- ``operators/classifier.py::NBCountStore`` (naive-Bayes counts);
- ``operators/text.py::InvertedIndexStore`` (delta-encoded postings).

``streaming/neardedup.py`` keeps its numbered-increment layout and
uses ``RunLog`` and ``replace_dir`` from here directly.

Layout of one store directory::

    <pin>                  parameters fixed at creation (``meta.json``
                           unless the store names another file; the
                           inverted index has none)
    runs/<token>.done      completion markers (row-provenance stores)
    <tree>/batch=<token>/  one partition per batch and tree, written
                           with overwrite
    <tree>/batch=c0/       the consolidated partition
    <tree>/_absorbed.json  tokens folded into c0 (sidecar stores)

Lifecycle, all owned by ``BatchStore``:

- open: refuse a remote URI; create the pin, or fail loud when the
  requested parameters drift from it (probing across parameters
  gives silently wrong answers); refuse a populated directory without
  a pin; roll every tree's interrupted fold forward or back; warn
  about batches that were written but never marked done.
- commit: a batch is identified by a deterministic content token
  (``digest_batch_token``), so a retry maps to the same token,
  overwrites its own ``batch=<token>`` partitions and excludes them
  from its own probe. Row-provenance stores then land
  ``runs/<token>.done``.
- consolidate: fold the store's batches into ``batch=c0`` per tree
  through the store's ``regroup`` and ``replace_dir``. Run it between
  increments, never with one in flight.

Crash windows. A commit crash leaves some of the batch's partitions
written; the retry overwrites them. Without a done marker a
row-provenance batch is never folded, and the open-time audit names
it. A fold crash is resolved by ``recover_replace`` (inventory in its
docstring): every tree reads as its complete old or complete new
content, and the sources a fold reads are only deleted after its swap
returned, so content is never lost. The trees of one store swap
independently; each fold preserves its tree's content on its own.

Absorption. A producer retry of a batch already folded into c0 must
not double its rows. Two mechanisms exist because two kinds of
regroup exist:

- row provenance (``ROW_PROVENANCE = True``, the dedup stores): every
  row carries its origin batch in ``src_token``, and the regroup keeps
  it, so the probe's own-batch exclusion still works after the fold.
  A retry re-commits its partition next to c0; the probe tolerates
  the duplicate rows and the next fold merges them. The fold replaces
  ``<tree>/batch=c0`` and then deletes the done batches it read; a
  batch without a done marker stays out of the fold.
- sidecar (``ROW_PROVENANCE = False``): the regroup merges rows of
  several batches into one (postings lists, summed counts, span
  hashes flagged ``multi``), so per-row provenance is gone by design.
  The fold writes ``batch=c0`` and ``_absorbed.json`` into one build
  of the WHOLE tree and swaps it in, so the record can never land
  without the data it describes; ``write_batch`` of an absorbed token
  writes nothing.

Everything here is driver-local filesystem bookkeeping. At warehouse
scale the same shape becomes catalog tables with MERGE commits and an
OPTIMIZE job.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path
from typing import Callable


def atomic_write_json(path: Path, obj) -> None:
    """Write JSON via a same-directory temp file + rename, so readers
    never observe a torn manifest."""
    tmp = path.parent / f"_{path.name}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def absorbed_tokens(root: Path | str) -> set[str]:
    """Tokens of batches already folded into the consolidated
    partition — recorded by consolidation in ``_absorbed.json``
    (underscore-prefixed so Spark's parquet discovery ignores it).
    A producer retry whose batch was absorbed must NOT re-append it
    next to the consolidated partition: consolidation is a pure
    regroup, so the duplicate would be baked in permanently."""
    p = Path(root) / "_absorbed.json"
    if not p.is_file():
        return set()
    with open(p) as fh:
        return set(json.load(fh))


def record_absorbed(root: Path | str, tokens: set[str]) -> None:
    """Write the absorbed-token record. Call with the ``replace_dir``
    BUILD path during consolidation — the record then swaps into
    place atomically with the data it describes (a record that could
    land without its data, or vice versa, would break the retry
    exclusion in exactly the crash windows it exists for)."""
    atomic_write_json(Path(root) / "_absorbed.json", sorted(tokens))


def digest_batch_token(df, dig) -> str:
    """Deterministic, order-independent content token of a batch:
    row count + decimal sums of both 64-bit halves of a per-row md5
    digest column (~128 collision bits — a narrow checksum would let
    two DIFFERENT batches alias one partition). One map-side
    aggregate; the same input always maps to the same token, so
    retries overwrite their own partition. Sums over zero rows are
    NULL; coalesced so the empty batch gets the well-formed token
    0_0_0 instead of embedding 'None' in partition dir names (only
    n=0 can null the halves, so no real batch can alias it).

    The one definition behind the near-dedup, media and inverted-index
    stores' batch identity — their on-disk token format is this
    string."""
    from pyspark.sql import functions as F

    half = lambda lo, ln: F.sum(  # noqa: E731
        F.conv(F.substring(dig, lo, ln), 16, 10).cast("decimal(38,0)")
    )
    row = df.select(
        F.count("*").alias("n"),
        half(1, 16).alias("h1"),
        half(17, 16).alias("h2"),
    ).first()
    return f"{row['n']}_{row['h1'] or 0}_{row['h2'] or 0}"


def data_partition_dirs(
    base: Path, prefix: str = "batch=", exclude: str | None = None
) -> list[Path]:
    """Partition dirs under ``base`` that hold actual data files,
    sorted by name; ``exclude`` skips one partition by full dir name
    (the probing batch's own-partition exclusion)."""
    if not base.is_dir():
        return []
    return [
        p
        for p in sorted(base.glob(f"{prefix}*"))
        if p.name != exclude and any(p.glob("*.parquet"))
    ]


def aux_path(target: Path, kind: str) -> Path:
    """Sibling scratch path for ``replace_dir``'s protocol. The
    leading underscore keeps it outside ``<prefix>*`` partition globs
    and makes Spark's readers ignore it; ``=`` is flattened so the
    name is never itself parsed as a partition."""
    return target.parent / f"_{target.name.replace('=', '_')}.{kind}"


def recover_replace(target: Path) -> None:
    """Roll an interrupted ``replace_dir(target, ...)`` forward or
    back. Crash windows and their resolution:

    - build written, not yet renamed → the stranded ``.build`` is
      dropped (incomplete by definition).
    - build renamed to ``.swapin`` but ``target`` still present → the
      swap-in is DISCARDED: its content is recomputable (every
      caller re-derives it from sources that are only deleted after
      ``replace_dir`` returns), while preferring it would require
      proving it newer than ``target``.
    - ``target`` renamed aside to ``.old``, swap-in not yet renamed →
      roll FORWARD (``.swapin`` is complete by naming: it only ever
      gets that name after its parquet write succeeded).
    - ``.old`` present with no swap-in (or next to a live target
      post-swap) → roll BACK / drop the stale copy.

    ``target`` is therefore never left missing when any complete copy
    exists — the invariant the stores' probes depend on (a missing
    index directory reads as "empty store" and mass-unflags
    duplicates)."""
    swapin, old = aux_path(target, "swapin"), aux_path(target, "old")
    if not target.is_dir():
        if swapin.is_dir():
            os.rename(swapin, target)
        elif old.is_dir():
            os.rename(old, target)
    shutil.rmtree(old, ignore_errors=True)
    if target.is_dir():
        shutil.rmtree(swapin, ignore_errors=True)
    shutil.rmtree(aux_path(target, "build"), ignore_errors=True)


def replace_dir(target: Path, writer: Callable[[str], None]) -> None:
    """Crash-safely replace ``target`` with the content ``writer``
    produces at the build path it is handed. At every crash point the
    combination of on-disk state and ``recover_replace`` yields either
    the complete old or the complete new content (see the crash-window
    inventory there). Callers must keep the inputs ``writer`` derives
    its output from until this returns — that is what makes discarding
    an ambiguous swap-in safe."""
    recover_replace(target)
    build, swapin = aux_path(target, "build"), aux_path(target, "swapin")
    old = aux_path(target, "old")
    writer(str(build))
    os.rename(build, swapin)  # complete-by-naming
    if target.is_dir():
        os.rename(target, old)
    os.rename(swapin, target)
    shutil.rmtree(old, ignore_errors=True)


class RunLog:
    """A ``runs/`` directory of run manifests and completion markers.

    Two usage profiles, one bookkeeping implementation:

    - marker-only (``BatchStore``): ``mark_done(token)`` +
      ``done_tokens()`` — tokens are caller-defined (content
      fingerprints).
    - numbered increments (streaming store): ``begin_numbered()``
      allocates ``r<NNNN>`` manifests whose offsets are the running
      sum of completed increments' batch counts, resumes a crashed
      (un-``done``) increment with its ORIGINAL parameters, and
      refuses to resume it under a different input path.
    """

    def __init__(self, runs_dir: str | os.PathLike) -> None:
        self.dir = Path(runs_dir)

    def done_tokens(self) -> set[str]:
        if not self.dir.is_dir():
            return set()
        return {p.name[: -len(".done")] for p in self.dir.glob("*.done")}

    def mark_done(self, token: str) -> None:
        self.dir.mkdir(parents=True, exist_ok=True)
        (self.dir / f"{token}.done").write_text("")

    def _run_ids(self) -> list[str]:
        """Numbered run ids in NUMERIC order — the whole point of
        centralizing this (see module docstring)."""
        if not self.dir.is_dir():
            return []
        ids = [
            p.stem
            for p in self.dir.glob("r*.json")
            if p.stem[1:].isdigit()
        ]
        return sorted(ids, key=lambda n: int(n[1:]))

    def begin_numbered(
        self, n_batches: int, documents_path: str = ""
    ) -> tuple[str, int, int]:
        """Allocate (or resume) a numbered increment: returns
        ``(run_id, offset, n_batches)``.

        The manifest is written atomically BEFORE the caller stages or
        writes anything, and the caller lands ``mark_done(run_id)``
        only after its work drains — so a crash anywhere inside the
        increment leaves an un-``done`` manifest that the next call
        resumes with the ORIGINAL offset and batch count (half-written
        partitions are simply overwritten). A resume with a DIFFERENT
        ``documents_path`` raises instead of silently draining the
        crashed increment's staged files under the new name. Offsets
        are the running sum of completed manifests' ``n_batches`` — a
        pure metadata read, never a store scan. Every un-done manifest
        is checked (not just the newest), so a skipped crashed run can
        never be silently stranded."""
        self.dir.mkdir(parents=True, exist_ok=True)
        ids = self._run_ids()
        done = self.done_tokens()
        offset = 0
        for rid in ids:
            with open(self.dir / f"{rid}.json") as fh:
                manifest = json.load(fh)
            if rid not in done:
                if manifest.get("documents_path", "") != documents_path:
                    raise ValueError(
                        f"increment {rid} crashed mid-run over "
                        f"{manifest.get('documents_path')!r}; resume it "
                        f"with that documents_path (got "
                        f"{documents_path!r}) before starting new work"
                    )
                return rid, int(manifest["offset"]), int(manifest["n_batches"])
            offset += int(manifest["n_batches"])
        run_id = f"r{(int(ids[-1][1:]) + 1) if ids else 0:04d}"
        atomic_write_json(
            self.dir / f"{run_id}.json",
            {
                "offset": offset,
                "n_batches": n_batches,
                "documents_path": documents_path,
            },
        )
        return run_id, offset, n_batches


#: token of the consolidated partition every fold writes
CONSOLIDATED = "c0"


def write_parquet(df, path: Path | str) -> None:
    """The one writer of store data: batch partitions and fold
    builds alike (overwrite, so a retry replaces its own output)."""
    df.write.mode("overwrite").parquet(str(path))


class BatchStore:
    """The lifecycle of one batch-keyed store directory (see the module
    docstring). A store supplies its pin, its tree names, ``regroup``
    and, when the pin fixes a tree's columns, ``tree_schema``;
    everything else is here.

    Class attributes:

    - ``NAME``: how errors and warnings name the store;
    - ``PIN``: pin file name, or None for a pin-less store;
    - ``PIN_ARGS``: constructor arguments ``from_pin`` reads back
      from the pin;
    - ``TREES``: tree names under the store directory (``""`` is the
      directory itself);
    - ``ROW_PROVENANCE``: the absorption mechanism.
    """

    NAME = "batch store"
    PIN: str | None = "meta.json"
    PIN_ARGS: tuple[str, ...] = ()
    TREES: tuple[str, ...] = ()
    ROW_PROVENANCE = True

    def __init__(
        self,
        root: str | os.PathLike,
        collection: str,
        pinned: dict | None,
    ) -> None:
        if "://" in str(root):
            raise ValueError(
                f"{self.NAME} root must be a driver-visible local "
                f"directory, got {str(root)!r}; remote object-store "
                "backends need the catalog-table variant of this layout"
            )
        self.dir = Path(root) / collection
        if self.PIN is not None:
            self._check_pin(pinned)
        self.recover()
        if self.ROW_PROVENANCE:
            self._audit_done_markers()

    # ------------------------------------------------------------ pin

    def _check_pin(self, pinned: dict) -> None:
        stored = self.read_pin(self.dir)
        if stored is not None:
            drift = {
                key: (stored.get(key), val)
                for key, val in pinned.items()
                if stored.get(key) != val
            }
            if drift:
                raise ValueError(
                    f"config mismatch: {self.NAME} {self.dir} was built "
                    f"with different parameters: {drift} (stored, "
                    "requested) — probing across parameter changes "
                    "gives garbage answers; use a fresh store directory"
                )
            return
        # names Spark's readers ignore (the pin's own temp file, a
        # streaming checkpoint pin) are not data; anything else is a
        # foreign layout whose history initializing would discard
        if self.dir.is_dir() and any(
            not e.name.startswith(("_", ".")) for e in self.dir.iterdir()
        ):
            raise ValueError(
                f"{self.dir} exists and is non-empty but has no "
                f"{self.PIN} — not a {self.NAME} (or an incompatible "
                "layout); refusing to initialize over it"
            )
        self.dir.mkdir(parents=True, exist_ok=True)
        atomic_write_json(self.dir / self.PIN, pinned)

    @classmethod
    def read_pin(cls, store_dir: str | os.PathLike) -> dict | None:
        path = Path(store_dir) / cls.PIN
        if not path.is_file():
            return None
        with open(path) as fh:
            return json.load(fh)

    @classmethod
    def collections(cls, root: str | os.PathLike) -> list[str]:
        """Store directories under ``root``: those holding the pin, or
        every subdirectory for a pin-less store."""
        base = Path(root)
        if not base.is_dir():
            return []
        return sorted(
            p.name
            for p in base.iterdir()
            if p.is_dir() and (cls.PIN is None or (p / cls.PIN).is_file())
        )

    @classmethod
    def open_from_pin(
        cls, root: str | os.PathLike, collection: str
    ) -> "BatchStore":
        """Open an existing store with the parameters of its own pin,
        so maintenance never guesses them and trips the drift check."""
        pinned = cls.read_pin(Path(root) / collection) if cls.PIN else {}
        if pinned is None:
            raise ValueError(f"{Path(root) / collection} has no {cls.PIN}")
        return cls.from_pin(root, collection, pinned)

    @classmethod
    def from_pin(
        cls, root: str | os.PathLike, collection: str, pinned: dict
    ) -> "BatchStore":
        return cls(root, collection, **{a: pinned[a] for a in cls.PIN_ARGS})

    # ---------------------------------------------------------- trees

    def tree(self, name: str) -> Path:
        return self.dir / name

    def _fold_target(self, name: str) -> Path:
        """What a fold swaps: the c0 partition, or the whole tree when
        the sidecar record has to swap together with the data."""
        tree = self.tree(name)
        return tree / f"batch={CONSOLIDATED}" if self.ROW_PROVENANCE else tree

    def recover(self) -> None:
        """Roll every tree's interrupted fold forward or back."""
        for name in self.TREES:
            recover_replace(self._fold_target(name))

    def done_tokens(self) -> set[str]:
        return RunLog(self.dir / "runs").done_tokens()

    def _audit_done_markers(self) -> None:
        """Warn about batches with data but no completion marker (a
        crash inside ``commit``): they are left out of folds and only
        partly indexed until the same input is re-run, which
        overwrites them and lands the marker. A warning, not an error:
        the store stays usable and the fix is one rerun."""
        partial = {
            p.name.removeprefix("batch=")
            for name in self.TREES
            for p in data_partition_dirs(self.tree(name))
        } - self.done_tokens() - {CONSOLIDATED}
        if partial:
            print(
                f"WARNING: {self.NAME} {self.dir} has partially-"
                f"committed batches {sorted(partial)} (no completion "
                "marker) — re-run those inputs to finish their entries; "
                "until then dedup against them is incomplete",
                file=sys.stderr,
            )

    def other_batches(self, name: str, token: str) -> list[str]:
        """Data-holding partitions of tree ``name`` except the probing
        batch's own (a retry must not collide with itself)."""
        return [
            str(p)
            for p in data_partition_dirs(
                self.tree(name), exclude=f"batch={token}"
            )
        ]

    def tree_schema(self, name: str) -> str | None:
        """DDL schema of tree ``name`` when the pin fixes it, else
        None. A known schema spares every read of the tree Spark's
        parquet schema-inference job."""
        return None

    def read_tree(self, spark, name: str, paths):
        """Read partition directories ``paths`` of tree ``name``, with
        the ``batch`` partition column and its ``tree_schema`` when it
        has one."""
        reader = spark.read.option("basePath", str(self.tree(name)))
        schema = self.tree_schema(name)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[str(p) for p in paths])

    def absorbed(self, token: str) -> bool:
        """Whether a fold already absorbed ``token`` in ANY tree: a
        crash between two tree swaps must not let a retry re-write
        the batch into the tree that has not swapped yet."""
        return any(token in absorbed_tokens(self.tree(n)) for n in self.TREES)

    # ---------------------------------------------------------- write

    def write_batch(self, token: str, frames: dict) -> None:
        """Overwrite ``<tree>/batch=<token>`` with each tree's frame,
        then mark the batch done (row-provenance stores). Writes
        nothing when a fold already absorbed the token (sidecar
        stores)."""
        if self.absorbed(token):
            return
        for name, df in frames.items():
            write_parquet(df, self.tree(name) / f"batch={token}")
        if self.ROW_PROVENANCE:
            RunLog(self.dir / "runs").mark_done(token)

    # ----------------------------------------------------------- fold

    def regroup(self, name: str, df):
        """Tree ``name``'s folded content from the union of its
        sources (read with the ``batch`` partition column)."""
        raise NotImplementedError

    def consolidate(self, spark) -> None:
        """Fold each tree's batches into ``batch=c0``. c0 is complete
        by naming (it only gets that name through a finished swap), so
        it always joins the fold; a row-provenance batch joins only
        once marked done. Sources stay on disk until the swap returned,
        which is what lets ``recover_replace`` discard an ambiguous
        swap-in."""
        self.recover()
        done = self.done_tokens() if self.ROW_PROVENANCE else None
        c0 = f"batch={CONSOLIDATED}"
        for name in self.TREES:
            tree = self.tree(name)
            src = [
                p
                for p in data_partition_dirs(tree)
                if done is None
                or p.name == c0
                or p.name.removeprefix("batch=") in done
            ]
            folded_tokens = {
                p.name.removeprefix("batch=") for p in src if p.name != c0
            }
            if not folded_tokens:
                continue
            folded = self.regroup(name, self.read_tree(spark, name, src))
            if self.ROW_PROVENANCE:
                replace_dir(
                    tree / c0, lambda build: write_parquet(folded, build)
                )
                for p in src:
                    if p.name != c0:
                        shutil.rmtree(p, ignore_errors=True)
            else:
                absorbed = absorbed_tokens(tree) | folded_tokens

                def writer(build: str) -> None:
                    write_parquet(folded, os.path.join(build, c0))
                    record_absorbed(build, absorbed)

                replace_dir(tree, writer)
