"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is produced here from one integer
seed; the same seed gives byte-identical files (perfbench/tests pins
that). Nothing is read from outside the output directory.

- :func:`write_tables` lays out the ten fixture tables (TPC-H-like star
  schema plus ``events``, ``documents`` and ``embeddings``) at a scale
  factor, with the column types, value ranges and single-row-group layout of
  the fixture tier the registry's queries are written against.
- :func:`write_landing` lays out nested landing JSON under ``YYYY/weekXX/``
  prefixes with a fixed share of corrupt lines and returns what it planted.
- :func:`dedup_plan` splits a document set into an indexed corpus and a
  sequence of deltas mixing exact copies of indexed documents with
  uniquely tagged novel documents, and returns the expected audit outcome.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Rows per table at scale factor 1 (dimension tables region/nation fixed).
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
PART_ADJ = ["large", "small", "hot", "blue", "red", "green", "shiny", "matte"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]
PART_TYPES = ["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM"]
#: 31-word vocabulary: documents are word soup over it, like the fixture
#: corpus, so shingle counts and LSH collision rates match that tier.
VOCAB = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window index shard cache"
).split()
EMBED_DIM = 64
DOC_WORDS = (10, 100)
#: Exact duplicate documents planted per 1000 documents (l1 has work to do).
DUP_DOCS_PER_1000 = 2


def _days(start: str, end: str) -> tuple[int, int]:
    epoch = dt.date(1970, 1, 1)
    return (
        (dt.date.fromisoformat(start) - epoch).days,
        (dt.date.fromisoformat(end) - epoch).days,
    )


def _day_ts(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _days(start, end)
    days = rng.integers(lo, hi + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def _numbered(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    n_dups = n * DUP_DOCS_PER_1000 // 1000
    for dst, src in zip(
        rng.choice(n, n_dups, replace=False), rng.choice(n, n_dups, replace=False)
    ):
        texts[dst] = texts[src]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` from ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_AT_SF1.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), type=pa.int64()),
            "c_name": _numbered("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), type=pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), type=pa.int64()),
            "s_name": _numbered("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), type=pa.int32()),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    npart = n["part"]
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), type=pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), type=pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 2000) * 0.1, 2),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), type=pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _day_ts(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), type=pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _day_ts(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    start_us = _days("2024-01-01", "2024-01-01")[0] * 86_400_000_000
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), type=pa.int64()),
            "ts": pa.array(start_us + offsets, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, ne * 3 // 200), ne), type=pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = documents_table(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), type=pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), type=pa.int32()),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``{out_dir}/{name}.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in build_tables(seed, sf).items():
        pq.write_table(
            tab, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 24
        )


# --------------------------------------------------------------------------
# Landing zone
# --------------------------------------------------------------------------
@dataclass
class LandingPlan:
    """What :func:`write_landing` planted: the expected ingest outcome."""

    files: list[str] = field(default_factory=list)
    corrupt_files: list[str] = field(default_factory=list)
    good_rows: int = 0
    corrupt_lines: int = 0
    json_bytes: int = 0
    #: good rows per (year, month, day, mode) partition
    partitions: dict[tuple[int, int, int, str], int] = field(default_factory=dict)


CORRUPT_LINES = ('{"id": "broken", "event_timestamp": ', "not json at all")


def write_landing(
    landing_dir: str,
    seed: int,
    n_files: int,
    rows_per_file: int,
    corrupt_every: int,
    tag: str = "",
) -> LandingPlan:
    """Nested landing JSON under ``{landing_dir}/YYYY/weekXX/``. Every
    ``corrupt_every``-th file also carries one corrupt line (alternating
    between a truncated object and bare text). Rows carry event times spread
    over the file's ISO week, modes train/validation/test, and a payload
    item list, like the reference's landing records."""
    rng = np.random.default_rng([seed, 2])
    plan = LandingPlan()
    modes = ["train", "validation", "test"]
    for i in range(n_files):
        week = 1 + int(rng.integers(0, 8))
        monday = dt.date.fromisocalendar(2024, week, 1)
        rel = os.path.join("2024", f"week{week:02d}", f"part{tag}-{i:05d}.json")
        path = os.path.join(landing_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        lines = []
        day_off = rng.integers(0, 7, rows_per_file)
        secs = rng.integers(0, 86_400, rows_per_file)
        mode_idx = rng.integers(0, 3, rows_per_file)
        n_items = rng.integers(0, 4, rows_per_file)
        for j in range(rows_per_file):
            day = monday + dt.timedelta(days=int(day_off[j]))
            ts = dt.datetime.combine(day, dt.time()) + dt.timedelta(
                seconds=int(secs[j])
            )
            mode = modes[mode_idx[j]]
            rec = {
                "id": f"r{tag}-{i}-{j}",
                "event_timestamp": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "MODE": mode,
                "metadata": {"app_version": f"1.{i % 7}.0", "user_agent": "bench"},
                "payload": {
                    "transaction_id": f"t{tag}-{i}-{j}",
                    "items": [f"sku{(i + j + k) % 97}" for k in range(n_items[j])],
                },
            }
            lines.append(json.dumps(rec))
            key = (day.year, day.month, day.day, mode)
            plan.partitions[key] = plan.partitions.get(key, 0) + 1
        plan.good_rows += rows_per_file
        if corrupt_every and i % corrupt_every == 0:
            lines.insert(
                int(rng.integers(0, len(lines) + 1)),
                CORRUPT_LINES[(i // corrupt_every) % 2],
            )
            plan.corrupt_lines += 1
            plan.corrupt_files.append(path)
        data = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as f:
            f.write(data)
        plan.files.append(path)
        plan.json_bytes += len(data)
    return plan


# --------------------------------------------------------------------------
# Incremental-dedup deltas
# --------------------------------------------------------------------------
def _tagged(tag: str, text: str) -> str:
    return " ".join(tag + w for w in text.split(" "))


@dataclass
class DedupPlan:
    """Corpus ids to index, then per delta: rows and the expected outcome."""

    corpus: pa.Table
    deltas: list[pa.Table]
    planted_copies: list[set[int]]  # per delta: ids that copy an indexed doc
    novel: list[set[int]]  # per delta: ids that must be kept

    def digest(self) -> str:
        """SHA-256 over every document (id and text) of the plan."""
        import hashlib

        h = hashlib.sha256()
        for tab in [self.corpus] + self.deltas:
            for i, t in zip(tab.column("doc_id").to_pylist(), tab.column("text").to_pylist()):
                h.update(f"{i}\t{t}\n".encode())
        return h.hexdigest()


def dedup_plan(
    seed: int,
    n_corpus: int,
    n_deltas: int,
    delta_rows: int,
    copy_share: float,
) -> DedupPlan:
    """A corpus of ``n_corpus`` documents, and ``n_deltas`` deltas of
    ``delta_rows`` documents each. Every corpus document and every novel
    delta document is a generated document whose every word carries a tag
    unique to that document, so none of its shingles occurs anywhere else:
    indexing the corpus keeps all of it, and the audit must keep every novel
    document. A ``copy_share`` of each delta are exact copies of corpus
    documents under fresh ids, which the audit must drop."""
    rng = np.random.default_rng([seed, 3])
    generated = documents_table(rng, n_corpus)
    texts = [_tagged(f"k{i}", t) for i, t in enumerate(generated.column("text").to_pylist())]
    corpus = pa.table({"doc_id": generated.column("doc_id"), "text": pa.array(texts)})
    next_id = 1 << 40
    deltas, copies, novel = [], [], []
    for d in range(n_deltas):
        n_copy = int(round(delta_rows * copy_share))
        src = rng.choice(n_corpus, n_copy, replace=False)
        fresh = documents_table(rng, delta_rows - n_copy).column("text").to_pylist()
        rows = [texts[s] for s in src] + [
            _tagged(f"d{d}n{k}", t) for k, t in enumerate(fresh)
        ]
        ids = list(range(next_id, next_id + delta_rows))
        next_id += delta_rows
        order = rng.permutation(delta_rows)
        deltas.append(
            pa.table(
                {
                    "doc_id": pa.array([ids[o] for o in order], type=pa.int64()),
                    "text": pa.array([rows[o] for o in order]),
                }
            )
        )
        copies.append(set(ids[:n_copy]))
        novel.append(set(ids[n_copy:]))
    return DedupPlan(
        corpus=corpus,
        deltas=deltas,
        planted_copies=copies,
        novel=novel,
    )
