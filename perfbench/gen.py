"""Seeded input generator for the benchmark.

Writes the TPC-H-shaped tables the engine's fixture layer reads (region,
nation, customer, supplier, part, orders, documents) with numpy + pyarrow,
so the same (shape, seed) gives byte-identical parquet files.  Keys are dense
``0..n-1`` because the fixture formulas join on ``key % n``; the seed draws
every non-key value (nation assignment, balances, names, order customers,
document text) and the positions of near-duplicate documents.

Documents follow ``docs_profile.json``, measured on the engine's fixture
data by ``profile_docs.py``: words drawn uniformly from the measured
vocabulary, a uniform number of words per document over the measured range,
and the measured share of planted near-duplicates (another document's text
plus the marker word ``dup``).  These base documents are then replicated:
replica ``r`` of base document ``b`` has doc id ``b * replicas + r`` and the
base text plus `` rep <n_r>``, with the ``n_r`` drawn from the seed, so every
base document has ``replicas - 1`` near-copies (the scheme of
``scaling_bench.py``'s amplified corpus).

Output lives only under the benchmark's own work directory; any other
destination is refused, so the generator can never overwrite its inputs or
a read-only data directory.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2
PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "docs_profile.json")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["de", "en", "es", "fr", "zh"]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "documents")


@dataclass(frozen=True)
class Shape:
    """Row counts of one generated input directory."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    base_docs: int
    replicas: int = 1  # copies of each base document, suffixed " rep <n>" when > 1

    @property
    def docs(self) -> int:
        return self.base_docs * self.replicas

    @classmethod
    def scale(cls, sf: float, base_docs: int, **kw) -> "Shape":
        """TPC-H row counts at scale factor ``sf``."""
        return cls(
            customers=int(150_000 * sf),
            suppliers=max(int(10_000 * sf), 10),
            parts=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            base_docs=base_docs,
            **kw,
        )


def _strs(fmt: str, ids) -> pa.Array:
    return pa.array([fmt % i for i in ids], pa.string())


def _pick(rng, choices, n) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def _money(rng, lo, hi, n) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _documents(rng, shape: Shape) -> pa.Table:
    with open(PROFILE) as f:
        prof = max(json.load(f)["profiles"], key=lambda p: p["docs"])
    marker = prof["near_duplicates"]["marker"]
    words = np.array([w for w in prof["vocabulary"] if w != marker], dtype=object)
    lo, hi = prof["words_per_doc"]["min"], prof["words_per_doc"]["max"]
    nb = shape.base_docs
    lengths = rng.integers(lo, hi + 1, nb)
    flat = words[rng.integers(0, len(words), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    base = [" ".join(flat[bounds[i]: bounds[i + 1]]) for i in range(nb)]
    for i in np.sort(rng.choice(nb, size=round(nb * prof["near_duplicates"]["share"]), replace=False)):
        src = int(rng.integers(0, nb - 1))
        base[i] = base[src + (src >= i)] + " " + marker

    r = shape.replicas
    suffixes = [""] if r == 1 else [f" rep {n}" for n in rng.choice(1_000_000, size=r, replace=False)]
    texts = [t + sfx for t in base for sfx in suffixes]
    ids = np.arange(nb * r, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.repeat(np.asarray(LANGS, dtype=object)[rng.integers(0, len(LANGS), nb)], r),
                             pa.string()),
            "source": _strs("src%d", ids % 20),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def tables(shape: Shape, seed: int) -> dict[str, pa.Table]:
    """The generated tables, in memory.  Deterministic in (shape, seed)."""
    rng = np.random.default_rng([GEN_VERSION, seed])
    i32 = pa.int32()
    nc, ns, np_, no = shape.customers, shape.suppliers, shape.parts, shape.orders
    ck, sk, pk, ok = (np.arange(x, dtype=np.int64) for x in (nc, ns, np_, no))
    epoch = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2405, no).astype("timedelta64[D]").astype("timedelta64[us]")
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": _strs("NATION_%d", range(25)),
                "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(ck),
                "c_name": _strs("Customer#%09d", ck),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _pick(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(sk),
                "s_name": _strs("Supplier#%09d", sk),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(pk),
                "p_name": pa.array(
                    [f"{ADJ[a]} {NOUNS[b]}" for a, b in rng.integers(0, 8, (np_, 2))], pa.string()
                ),
                "p_brand": _strs("Brand#%d", rng.integers(1, 26, np_)),
                "p_type": _pick(rng, PTYPES, np_),
                "p_size": pa.array(rng.integers(1, 51, np_), i32),
                "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(ok),
                "o_custkey": pa.array(rng.integers(0, nc, no)),
                "o_orderstatus": _pick(rng, STATUS, no),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": pa.array(epoch + days, pa.timestamp("us")),
                "o_orderpriority": _pick(rng, PRIORITIES, no),
            }
        ),
        "documents": _documents(rng, shape),
    }


def _inside(path: str, root: str) -> bool:
    path, root = os.path.realpath(path), os.path.realpath(root)
    return os.path.commonpath([path, root]) == root and path != root


def generate(shape: Shape, seed: int, dst: str, work_root: str) -> str:
    """Write the inputs for (shape, seed) to ``dst`` unless already there.

    ``dst`` must be a fresh directory strictly inside ``work_root`` (the
    benchmark's work area); anything else raises ``ValueError`` before a
    byte is written.  Returns ``dst``.
    """
    if not _inside(dst, work_root):
        raise ValueError(f"refusing to generate outside the work directory: {dst}")
    stamp = os.path.join(dst, "_GENERATED.json")
    want = {"gen_version": GEN_VERSION, "seed": seed, "shape": asdict(shape)}
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f) == want:
                return dst
    shutil.rmtree(dst, ignore_errors=True)
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(shape, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    with open(os.path.join(tmp, "_GENERATED.json"), "w") as f:
        json.dump(want, f, sort_keys=True)
    os.rename(tmp, dst)
    return dst
