"""Seeded input generators. The same seed always yields the same bytes.

Three inputs, one per workload:

- ``telemetry``: FIXTURES.md F1 ``telemetry_data`` rows as JSON lines,
  at the fixture's dirty fractions, plus the F3 retype/rename config.
- ``store_generations``: two generations of a text corpus for the
  near-dedup store. Generation B is 30% one-word edits of A, 40%
  verbatim repeats of A (under fresh ids) and 30% new documents.
- ``query_tables``: the testdata tables the ``query_mix`` queries read
  (lineitem, part, supplier, orders, nation, documents, embeddings), in
  the testdata schemas, at roughly sf0.01 row counts.

Each generator writes into a directory and returns an ``InputSet``
holding the file layout plus the row and byte counts the run reports.
Generation is cached per (input, size, seed) under the caller's cache
root, so repeated runs of one seed do not pay it twice; it always runs
before any timed region.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: F1's time-valued fields are generated relative to this fixed anchor
#: instead of the wall clock, so a seed's bytes never change. The
#: engine's epoch heuristic accepts values within five years of *now*,
#: so this anchor keeps ``recorded_ts`` inferred as a timestamp until
#: 2030.
ANCHOR = datetime(2026, 1, 1, tzinfo=timezone.utc)

F1_COLLECTION = "telemetry_data"

#: FIXTURES.md F3, verbatim in shape.
F3_CONFIG = r"""schema:
  telemetry_data:
    - type: retype_equals
      fieldname: telemetry_snapshot_time
      fieldtype: timestamp[ms]
    - type: retype_regex
      fieldname: (?<!numeric_)id
      fieldtype: string
    - type: retype_contains
      fieldname: orientation
      fieldtype: float
    - type: rename_regex
      oldname: (\S+)_(\S+)
      newname: \2_\1
    - type: rename_regex_upper
      oldname: (\S+)_(\S+)
      newname: \2_\1
      upper: [2]
"""

#: the F1 ``datapoint_source`` categories; after the F3 rename the
#: column is ``source_datapoint``, the EL partition key
SOURCES = tuple(f"sensor_{c}" for c in "abcdefgh")

#: vocabulary of the testdata ``documents`` text
WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


@dataclass
class InputSet:
    """A generated input: where it lives and how much of it there is."""

    root: Path
    rows: int
    bytes: int
    files: dict[str, Path] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def describe(self) -> dict:
        return {"root": str(self.root), "rows": self.rows, "bytes": self.bytes}


def _cached(cache_root: Path, key: str, build) -> InputSet:
    """Build into ``cache_root/key`` once; later calls read the manifest."""
    target = cache_root / key
    manifest = target / "manifest.json"
    if not manifest.is_file():
        if target.exists():
            shutil.rmtree(target)  # a half-written earlier attempt
        tmp = cache_root / f".{key}.tmp{os.getpid()}"
        if tmp.exists():
            shutil.rmtree(tmp)
        tmp.mkdir(parents=True)
        rows, files, extra = build(tmp)
        size = sum(p.stat().st_size for p in tmp.rglob("*") if p.is_file())
        (tmp / "manifest.json").write_text(
            json.dumps({"rows": rows, "bytes": size, "files": files, "extra": extra})
        )
        os.replace(tmp, target)
    meta = json.loads(manifest.read_text())
    return InputSet(
        root=target,
        rows=meta["rows"],
        bytes=meta["bytes"],
        files={k: target / v for k, v in meta["files"].items()},
        extra=meta["extra"],
    )


# -- F1 telemetry ------------------------------------------------------


def _hex24(rng: np.random.Generator, n: int) -> list[str]:
    digits = np.frombuffer(b"0123456789abcdef", dtype="S1")
    raw = digits[rng.integers(0, 16, size=(n, 24))]
    return [b"".join(r).decode() for r in raw]


def telemetry_rows(seed: int, n: int) -> list[dict]:
    """F1 rows at FIXTURES.md's dirty fractions. ``payload_blob`` is
    left out: JSON has no bytes type, so it cannot carry the field."""
    rng = np.random.default_rng(seed)
    anchor = ANCHOR.timestamp()
    u = rng.random((n, 12))  # one uniform per dirty-variant decision
    ids = _hex24(rng, n)
    numeric_id = rng.integers(1, 2**31 - 1, size=n)
    big_id = rng.integers(2**31, 2**62, size=n)
    huge_lo = rng.integers(1, 2**40, size=n)
    flap_int = rng.integers(0, 41, size=n)
    flap_float = np.round(rng.uniform(0, 40, size=n), 1)
    snap_hours = rng.integers(1, 5000, size=n)
    day_days = rng.integers(0, 800, size=n)
    rec_int = rng.integers(0, 31_000_000, size=n)
    rec_float = np.round(rng.uniform(0, 3.1e7, size=n), 2)
    plain = rng.integers(100_000, 10**9, size=n)
    bools = rng.random(n) < 0.5
    temp = np.round(rng.uniform(50, 150, size=n), 2)
    zero_other = rng.integers(1, 101, size=n)
    note_pick = rng.integers(0, 3, size=n)
    chaos_int = rng.integers(0, 1000, size=n)
    source = rng.integers(0, len(SOURCES), size=n)
    notes = ("all good", "needs check", "ok")
    rows = []
    for i in range(n):
        snap = ANCHOR - timedelta(hours=int(snap_hours[i]))
        day = ANCHOR - timedelta(days=int(day_days[i]))
        row = {
            "_id": ids[i],
            "numeric_id": (
                str(numeric_id[i]) if u[i, 0] < 0.05 else int(numeric_id[i])
            ),
            "big_id": int(big_id[i]),
            "huge_id": 2**63 + int(huge_lo[i]),
            "flap_orientation": (
                float(flap_float[i]) if u[i, 1] < 0.10 else int(flap_int[i])
            ),
            "telemetry_snapshot_time": snap.strftime("%Y-%m-%dT%H:%M:%S"),
            "event_day": day.strftime("%Y-%m-%d"),
            "recorded_ts": (
                float(anchor - rec_float[i])
                if u[i, 2] < 0.10
                else int(anchor) - int(rec_int[i])
            ),
            "plain_count": int(plain[i]),
            "is_active": (
                ("yes" if bools[i] else "no")
                if u[i, 3] < 0.20
                else bool(bools[i])
            ),
            "engine_temp": (
                None
                if u[i, 4] < 0.05
                else "" if u[i, 4] < 0.10 else float(temp[i])
            ),
            "zero_val": 0 if u[i, 5] < 0.30 else int(zero_other[i]),
            "note": "42abc" if u[i, 6] < 0.10 else notes[note_pick[i]],
            "mixed_chaos": (
                int(chaos_int[i])
                if u[i, 7] < 0.5
                else f"w{chaos_int[i]}" if u[i, 7] < 0.8 else bool(bools[i])
            ),
            "datapoint_source": SOURCES[source[i]],
        }
        if u[i, 8] < 0.01:
            row["sparse_field"] = "rare"
        if u[i, 9] < 0.02:
            row["ghost_field"] = "boo"
        rows.append(row)
    return rows


def telemetry(cache_root: Path, seed: int, n: int) -> InputSet:
    """``<root>/src/telemetry_data.jsonl`` plus ``<root>/config.yaml``;
    ``extra["sources"]`` lists the distinct ``datapoint_source`` values."""

    def build(tmp: Path):
        src = tmp / "src"
        src.mkdir()
        sources = set()
        with open(src / f"{F1_COLLECTION}.jsonl", "w") as out:
            for row in telemetry_rows(seed, n):
                sources.add(row["datapoint_source"])
                out.write(json.dumps(row) + "\n")
        (tmp / "config.yaml").write_text(F3_CONFIG)
        return n, {"src": "src", "config": "config.yaml"}, {"sources": sorted(sources)}

    return _cached(cache_root, f"telemetry-n{n}-s{seed}", build)


# -- documents and the store generations -------------------------------


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi + 1, size=n)
    picks = rng.integers(0, len(WORDS), size=int(lengths.sum()))
    out, pos = [], 0
    for length in lengths:
        out.append(" ".join(WORDS[j] for j in picks[pos:pos + length]))
        pos += length
    return out


def _one_word_edit(rng: np.random.Generator, text: str) -> str:
    words = text.split()
    i = int(rng.integers(0, len(words)))
    words[i] = "edited" if words[i] != "edited" else "changed"
    return " ".join(words)


def store_generation_tables(seed: int, n: int) -> tuple[pa.Table, pa.Table, dict]:
    """Generation A (``n`` docs) and generation B (``n`` docs: 30% edits,
    40% verbatim repeats under fresh ids, 30% new), plus the B ids per
    kind. Documents are 40-90 words, so a one-word edit stays a near
    duplicate at the store's default 0.8 signature agreement."""
    rng = np.random.default_rng(seed)
    a_text = _texts(rng, n, 40, 90)
    a_ids = list(range(n))
    n_edit, n_repeat = int(n * 0.3), int(n * 0.4)
    n_new = n - n_edit - n_repeat
    order = rng.permutation(n)
    edit_src, repeat_src = order[:n_edit], order[n_edit:n_edit + n_repeat]
    base = 1_000_000
    b_rows = []
    kinds: dict[str, list[int]] = {"edit": [], "repeat": [], "new": []}
    for j, src in enumerate(edit_src):
        b_rows.append((base + j, _one_word_edit(rng, a_text[src])))
        kinds["edit"].append(base + j)
    for j, src in enumerate(repeat_src):
        b_rows.append((2 * base + j, a_text[src]))
        kinds["repeat"].append(2 * base + j)
    for j, text in enumerate(_texts(rng, n_new, 40, 90)):
        b_rows.append((3 * base + j, text))
        kinds["new"].append(3 * base + j)
    b_rows = [b_rows[i] for i in rng.permutation(len(b_rows))]
    gen_a = pa.table({"doc_id": pa.array(a_ids, pa.int64()), "text": a_text})
    gen_b = pa.table(
        {
            "doc_id": pa.array([r[0] for r in b_rows], pa.int64()),
            "text": [r[1] for r in b_rows],
        }
    )
    return gen_a, gen_b, kinds


def store_generations(cache_root: Path, seed: int, n: int) -> InputSet:
    """``<root>/gen_a/docs.parquet`` and ``<root>/gen_b/docs.parquet``;
    ``extra["kinds"]`` holds generation B's ids by kind."""

    def build(tmp: Path):
        gen_a, gen_b, kinds = store_generation_tables(seed, n)
        for name, table in (("gen_a", gen_a), ("gen_b", gen_b)):
            (tmp / name).mkdir()
            pq.write_table(table, tmp / name / "docs.parquet")
        files = {"gen_a": "gen_a", "gen_b": "gen_b"}
        return gen_a.num_rows + gen_b.num_rows, files, {"kinds": kinds}

    return _cached(cache_root, f"store-n{n}-s{seed}", build)


# -- query tables -------------------------------------------------------


def _ts(days: np.ndarray, start: datetime) -> pa.Array:
    base = np.datetime64(start.replace(tzinfo=None), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def query_table_set(seed: int, scale: float) -> dict[str, pa.Table]:
    """The tables the ``query_mix`` queries read, in the testdata
    schemas; ``scale`` is the TPC-H-style scale factor (0.01 gives
    60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_part = max(200, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_orders = max(1500, int(1_500_000 * scale))
    n_cust = max(150, int(150_000 * scale))
    n_line = n_orders * 4
    n_docs = max(100, int(50_000 * scale))
    n_emb = max(100, int(50_000 * scale))
    tables: dict[str, pa.Table] = {}

    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    adjectives = "blue red large small hot cold green shiny".split()
    nouns = "anvil bolt ring widget gear spring valve nut".split()
    names = rng.integers(0, 8, size=(n_part, 2))
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in names],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [
                ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")[i]
                for i in rng.integers(0, 6, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    start = datetime(1995, 1, 1)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": [
                "FOP"[i] for i in rng.integers(0, 3, n_orders)
            ],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": _ts(rng.integers(0, 2405, n_orders), start),
            "o_orderpriority": [
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
                for i in rng.integers(0, 5, n_orders)
            ],
        }
    )
    quantity = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": quantity,
            "l_extendedprice": np.round(
                quantity * rng.uniform(900, 2100, n_line), 2
            ),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": ["ANR"[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": ["FO"[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(rng.integers(1, 2499, n_line), start),
        }
    )
    # documents: random word sequences, with ~1% planted near copies so
    # the near-dup queries have clusters to find
    texts = _texts(rng, n_docs, 10, 99)
    for i in range(0, n_docs - 1, 97):
        texts[i + 1] = texts[i] + " dup"
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    # embeddings: unit vectors in 64 dims, with ~2% planted neighbours
    vecs = rng.normal(size=(n_emb, 64))
    for i in range(0, n_emb - 1, 50):
        vecs[i + 1] = vecs[i] + rng.normal(scale=0.3, size=64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype("float32")), pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return tables


def query_tables(cache_root: Path, seed: int, scale: float) -> InputSet:
    """``<root>/<table>.parquet`` for every table of ``query_table_set``."""

    def build(tmp: Path):
        tables = query_table_set(seed, scale)
        for name, table in tables.items():
            pq.write_table(table, tmp / f"{name}.parquet")
        rows = sum(t.num_rows for t in tables.values())
        return rows, {name: f"{name}.parquet" for name in tables}, {}

    return _cached(cache_root, f"tables-sf{scale:g}-s{seed}", build)
