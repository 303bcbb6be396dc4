"""Seeded ETL source and change-batch generator.

One `Sources` object owns the current state of the four source tables of the
ETL workloads, writes them as parquet landing zones that `graft` reads, and
lands seeded change batches for the incremental workload. The tables are
derived, read-only, from the program's corpus (the sf0.1 directory): a prefix
of `orders` orders keeps the corpus's shape (about 4 lineitems and 2/3 of an
event per order, one customer per 10 orders) and its value distributions.
The same seed (and scale) always gives byte-identical source files, and the
in-memory tables are the expected contents of both warehouses after a
successful sync.

Tables (strategy as configured in the workloads' graft config):
  orders    pk o_orderkey + last_modified updated_at   (upsert)
  lineitem  pk l_id, unique by construction            (append-only)
  events    pk event_id                                (append-only)
  customer  no key, `reload: true`                     (reloaded every sync)

The corpus has no `updated_at`; the seed draws it. lineitem carries its own
`l_id` because `(l_orderkey, l_linenumber)` is not unique in the corpus, and
a keyed DuckDB load needs a true key. Change batches copy seed-chosen corpus
rows under fresh keys and newer timestamps.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("orders", "lineitem", "events", "customer")
KEYS = {"orders": "o_orderkey", "lineitem": "l_id", "events": "event_id"}

DAY = 86_400
T0 = 946_684_800 + 25 * 365 * DAY  # base instant of `updated_at`, in seconds
STATUS = np.array(["O", "F", "P"])
# fraction of each table a change batch adds (and, for orders, updates)
CHANGE_SHARE = 0.01


def _ts(secs):
    return pa.array(np.asarray(secs, dtype="int64") * 1_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _set(table, name, values):
    return table.set_column(table.schema.get_field_index(name), name, values)


def _parquet_bytes(table):
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().size


def read_corpus(corpus):
    """The corpus tables the sources are derived from."""
    return {name: pq.read_table(os.path.join(corpus, f"{name}.parquet"))
            for name in TABLES}


class Sources:
    """The source tables of one ETL run: the first `orders` orders of the
    `corpus` tables (a dict as `read_corpus` returns) and their lineitems,
    with the same share of events and customers."""

    def __init__(self, seed, orders, root, corpus):
        self.seed = seed
        self.root = root
        self.corpus = corpus
        self.round = 0
        rng = np.random.default_rng([seed, 0])
        full = corpus["orders"].num_rows
        o = corpus["orders"].slice(0, orders)
        o = o.append_column("updated_at", _ts(rng.integers(T0 - 365 * DAY, T0, o.num_rows)))
        li = corpus["lineitem"].filter(pc.is_in(corpus["lineitem"].column("l_orderkey"),
                                                o.column("o_orderkey")))
        li = li.add_column(0, "l_id", pa.array(np.arange(1, li.num_rows + 1), pa.int64()))
        share = orders / full
        self.tables = {
            "orders": o,
            "lineitem": li,
            "events": corpus["events"].slice(0, max(1, round(corpus["events"].num_rows * share))),
            "customer": corpus["customer"].slice(
                0, max(10, round(corpus["customer"].num_rows * share))),
        }
        os.makedirs(root, exist_ok=True)
        for name in TABLES:
            os.makedirs(self._dir(name), exist_ok=True)
            self._write(name, "part-00000.parquet", self.tables[name])

    def _dir(self, name):
        return os.path.join(self.root, f"{name}.parquet")

    def _write(self, name, file, table):
        pq.write_table(table, os.path.join(self._dir(name), file))

    def source_bytes(self):
        total = 0
        for name in TABLES:
            d = self._dir(name)
            total += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        return total

    def _copies(self, rng, name, n):
        """`n` seed-chosen rows of a corpus table."""
        src = self.corpus[name]
        return src.take(pa.array(rng.integers(0, src.num_rows, n)))

    def _growth(self, name):
        """Rows a change batch adds to an append-only table, and its
        largest key so far."""
        cur = self.tables[name]
        return max(1, int(cur.num_rows * CHANGE_SHARE)), cur.column(KEYS[name]).to_numpy().max()

    def _append(self, name, batch):
        """Land `batch` as a new file of an append-only table; return its
        bytes."""
        self.tables[name] = pa.concat_tables([self.tables[name], batch])
        path = os.path.join(self._dir(name), f"part-r{self.round:05d}.parquet")
        pq.write_table(batch, path)
        return os.path.getsize(path)

    def land_changes(self):
        """Land one change batch: new orders, orders updated with a newer
        `updated_at`, new lineitem and events rows (each about
        CHANGE_SHARE of its table), and rebalanced customer accounts.
        Returns the parquet bytes of the delta an incremental sync moves."""
        self.round += 1
        r = self.round
        rng = np.random.default_rng([self.seed, r])
        t_lo, t_hi = T0 + (r - 1) * DAY, T0 + r * DAY
        orders = self.tables["orders"]
        n_ord = orders.num_rows
        n_new = max(1, int(n_ord * CHANGE_SHARE))
        keys = orders.column("o_orderkey").to_numpy()
        new_orders = self._copies(rng, "orders", n_new)
        new_orders = _set(new_orders, "o_orderkey",
                          pa.array(np.arange(keys.max() + 1, keys.max() + 1 + n_new)))
        new_orders = new_orders.append_column("updated_at", _ts(rng.integers(t_lo, t_hi, n_new)))
        upd_idx = np.sort(rng.choice(n_ord, n_new, replace=False))
        updated = orders.take(pa.array(upd_idx))
        updated = _set(updated, "o_orderstatus", pa.array(STATUS[rng.integers(0, 3, n_new)]))
        updated = _set(updated, "o_totalprice", pa.array(_money(rng, n_new, 900, 500_000)))
        updated = _set(updated, "updated_at", _ts(rng.integers(t_lo, t_hi, n_new)))
        keep = np.ones(n_ord, dtype=bool)
        keep[upd_idx] = False
        self.tables["orders"] = pa.concat_tables(
            [orders.filter(pa.array(keep)), updated, new_orders])
        # an updated row changes in place at the source, so the orders
        # landing zone is rewritten whole, like a table the source updates
        os.remove(os.path.join(self._dir("orders"), "part-00000.parquet"))
        self._write("orders", "part-00000.parquet", self.tables["orders"])
        delta = _parquet_bytes(pa.concat_tables([updated, new_orders]))

        all_keys = self.tables["orders"].column("o_orderkey").to_numpy()
        n, last = self._growth("lineitem")
        batch = self._copies(rng, "lineitem", n)
        batch = batch.add_column(0, "l_id", pa.array(np.arange(last + 1, last + 1 + n)))
        batch = _set(batch, "l_orderkey", pa.array(rng.choice(all_keys, n)))
        delta += self._append("lineitem", batch)
        n, last = self._growth("events")
        batch = self._copies(rng, "events", n)
        batch = _set(batch, "event_id", pa.array(np.arange(last + 1, last + 1 + n)))
        batch = _set(batch, "ts", _ts(rng.integers(t_lo, t_hi, n)))
        delta += self._append("events", batch)

        cust = self.tables["customer"]
        n_c = max(1, int(cust.num_rows * CHANGE_SHARE))
        bal = cust.column("c_acctbal").to_numpy().copy()
        bal[rng.choice(cust.num_rows, n_c, replace=False)] = _money(rng, n_c, -999, 9_999)
        self.tables["customer"] = _set(cust, "c_acctbal", pa.array(bal))
        os.remove(os.path.join(self._dir("customer"), "part-00000.parquet"))
        self._write("customer", "part-00000.parquet", self.tables["customer"])
        return delta


def config_yaml(source_dir, warehouse_dir, data_dir):
    """The graft config of both ETL workloads."""
    return (
        "source:\n"
        f"  dir: {source_dir}\n"
        f"  data_dir: {data_dir}\n"
        "warehouse:\n"
        f"  dir: {warehouse_dir}\n"
        f"  duckdb_path: {warehouse_dir}/duck.db\n"
        "tables:\n"
        "  orders:\n"
        "    primary_key: o_orderkey\n"
        "    last_modified: updated_at\n"
        "  lineitem:\n"
        "    primary_key: l_id\n"
        "  events:\n"
        "    primary_key: event_id\n"
        "  customer:\n"
        "    reload: true\n")
