"""Seeded, memory-bounded benchmark inputs.

The inputs are derived from ``template/``, a byte-for-byte copy of the
engine's sf0.01 star schema and events tables.
The copy is committed because a benchmark run reads only inside its
checkout, and the read-only test data the engine's tests use lives
outside it; the input stamp includes the copy's digest, so a refreshed
copy regenerates every input. A workload asks for a fact-table scale;
the sizes depend on it alone, never on the seed.

* scale >= 1 writes that many replicas of each fact table. Primary keys
  shift by ``replica * (max key + 1)`` exactly as the engine's
  ``tools/make_benchdata.py`` does (orders and lineitem share the
  orderkey offset), so the orders->lineitem join keeps its 1:N
  multiplicity.
* scale < 1 keeps the first ``scale`` share of orders (and their
  lineitems) and of events, which are stored in time order.

The seed relabels, per replica, the foreign keys the queries group and
join on, each by a permutation of its own key domain: ``o_custkey``,
``l_partkey``, ``l_suppkey`` and ``events.user_id``. Row order, value
distributions and key multiplicities are kept, so two seeds run the same
plans on different data; the DuckDB twins check every output.

Each table is written one replica at a time through
``pyarrow.parquet.ParquetWriter``, so memory stays at one template table
whatever the scale. Row groups are small (``ROW_GROUP`` rows) so that
Spark can split any scan larger than one split width.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TEMPLATE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "template")
ROW_GROUP = 1 << 15

DIMENSIONS = ["region", "nation", "customer", "supplier", "part"]
FACTS = ["orders", "lineitem", "events"]
# key column -> (table holding its domain, domain column)
RELABEL = {
    "orders": {"o_custkey": ("customer", "c_custkey")},
    "lineitem": {
        "l_partkey": ("part", "p_partkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
    },
    "events": {"user_id": ("events", "user_id")},
}
SHIFT = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
}
_VERSION = "1"


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(TEMPLATE, f"{name}.parquet"))


def _template_digest() -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(TEMPLATE)):
        with open(os.path.join(TEMPLATE, f), "rb") as fh:
            h.update(f.encode())
            h.update(fh.read())
    return h.hexdigest()[:16]


def _relabel(col: pa.ChunkedArray, domain: np.ndarray, rng) -> pa.Array:
    """Map every value of ``col`` through a seeded permutation of the
    sorted key ``domain`` (values outside it are kept)."""
    vals = col.to_numpy()
    perm = rng.permutation(domain)
    idx = np.searchsorted(domain, vals)
    idx = np.clip(idx, 0, len(domain) - 1)
    hit = domain[idx] == vals
    out = np.where(hit, perm[idx], vals)
    return pa.array(out, type=col.type)


def _set(tab: pa.Table, name: str, arr) -> pa.Table:
    i = tab.schema.get_field_index(name)
    return tab.set_column(i, tab.schema.field(i), arr)


def _truncate(tables: dict[str, pa.Table], share: float) -> None:
    """Keep the first ``share`` of orders (with their lineitems) and of
    events, in stored order."""
    orders = tables["orders"]
    orders = orders.slice(0, max(1, int(orders.num_rows * share)))
    keep = pc.is_in(tables["lineitem"]["l_orderkey"], value_set=orders["o_orderkey"])
    tables["orders"] = orders
    tables["lineitem"] = tables["lineitem"].filter(keep)
    ev = tables["events"]
    tables["events"] = ev.slice(0, max(1, int(ev.num_rows * share)))


def _write(path: str, base: pa.Table, replicas: int, seed: int, table: str,
           offset: int, domains: dict[str, np.ndarray]) -> None:
    shift_col = SHIFT[table]
    with pq.ParquetWriter(path, base.schema) as writer:
        for r in range(replicas):
            rng = np.random.default_rng([seed, sorted(SHIFT).index(table), r])
            rep = base
            for col in RELABEL.get(table, {}):
                rep = _set(rep, col, _relabel(rep[col], domains[col], rng))
            shifted = pc.add(rep[shift_col], pa.scalar(r * offset, rep[shift_col].type))
            rep = _set(rep, shift_col, shifted)
            writer.write_table(rep, row_group_size=ROW_GROUP)


def generate(out_dir: str, seed: int, scale: float) -> str:
    """Write every table under ``out_dir`` unless a stamp of the same
    (template, scale, seed) is already there. Returns out_dir."""
    stamp = f"v{_VERSION}|{_template_digest()}|{scale}|{seed}|rg{ROW_GROUP}"
    marker = os.path.join(out_dir, ".stamp")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == stamp:
                return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    for name in DIMENSIONS:
        pq.write_table(_read(name), os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=ROW_GROUP)

    base = {name: _read(name) for name in FACTS}
    replicas = max(1, int(scale))
    if scale < 1:
        _truncate(base, scale)
    domains = {
        col: np.unique(_read(t)[c].to_numpy()) if t != "events"
        else np.unique(base["events"][c].to_numpy())
        for spec in RELABEL.values() for col, (t, c) in spec.items()
    }
    # orders and lineitem share one orderkey offset
    offsets = {t: pc.max(base[t][SHIFT[t]]).as_py() + 1 for t in FACTS}
    offsets["lineitem"] = offsets["orders"]
    for name in FACTS:
        _write(os.path.join(out_dir, f"{name}.parquet"), base[name], replicas,
               seed, name, offsets[name], domains)
        del base[name]

    with open(marker, "w") as fh:
        fh.write(stamp)
    return out_dir


def table_rows(data_dir: str) -> dict[str, int]:
    return {
        f[: -len(".parquet")]: pq.read_metadata(os.path.join(data_dir, f)).num_rows
        for f in sorted(os.listdir(data_dir))
        if f.endswith(".parquet")
    }
