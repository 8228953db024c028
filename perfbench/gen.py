"""Seeded input generators for the four benchmark workloads.

Each generator is a pure function of its seed: the same seed writes
byte-identical input files. Each also keeps the bookkeeping the oracle
needs (expected table contents, rejected and orphan counts, CDC replay),
computed independently of the program under test.
"""
import csv
import datetime as dt
import hashlib
import io
import os
import random

BASE_DATE = dt.date(2024, 1, 1)
DEPARTMENTS = ["produce", "dairy", "bakery", "frozen", "pantry",
               "beverages", "snacks", "household"]


def _csv_text(header, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    for r in rows:
        w.writerow(["" if v is None else v for v in r])
    return buf.getvalue()


def _money(rng):
    return round(rng.uniform(5.0, 500.0), 2)


# ---------------------------------------------------------------------------
# etl_daily / lake_reads: the reference's three datasets, one "day" at a time

PRODUCTS_HEADER = ["product_id", "department_id", "department", "product_name"]
ORDERS_HEADER = ["order_num", "order_id", "user_id", "order_timestamp",
                 "total_amount"]
ITEMS_HEADER = ["id", "order_id", "user_id", "days_since_prior_order",
                "product_id", "add_to_cart_order", "reordered",
                "order_timestamp"]


class EtlDay:
    """One landed day: its raw files and the generator's expectations."""

    def __init__(self, index):
        self.index = index
        self.date = BASE_DATE + dt.timedelta(days=index)
        self.files = {}          # dataset -> (file name, csv text)
        self.relanded = None     # (dataset, file name) of a re-landed file
        # dataset -> (valid rows after dedup, rejected rows) as the
        # ingestion job reports them
        self.counts = {}
        self.product_upserts = {}   # product_id -> row tuple
        self.order_upserts = {}     # order_id -> row tuple
        self.item_upserts = {}      # id -> row tuple


class EtlGenerator:
    """Days of raw CSV for products, orders and order_items.

    Every day carries new orders, corrections to orders of the previous
    week (so MERGE rewrites older date partitions), dirty rows that must
    be quarantined, exact duplicate rows that dedup must drop, and
    order_items whose order or product does not exist (dropped by the
    foreign-key semi-joins). From day 1 on, the previous day's orders file
    lands again under its processed name, with its original content; every
    day has the same shape, so every seed costs the same.
    """

    N_PRODUCTS = 120
    ORDERS_PER_DAY = 150
    CORRECTIONS_PER_DAY = 20

    def __init__(self, seed):
        self.rng = random.Random(f"etl:{seed}")
        self.products = {}   # id -> (id, dept_id, dept, name)
        self.orders = {}     # id -> (id, user, ts, amount, date)
        self.orders_by_day = []
        self.next_order = 1_000_000
        self.next_item = 5_000_000
        self.next_product = 100_000
        self.days = []

    def _new_product(self):
        pid = str(self.next_product)
        self.next_product += 1
        d = self.rng.randrange(len(DEPARTMENTS))
        return (pid, d + 1, DEPARTMENTS[d], f"product-{pid}-v0")

    def day(self):
        rng = self.rng
        day = EtlDay(len(self.days))

        # products: the full catalog on day 0, a few renames and new
        # products afterwards; one row per key per file
        if day.index == 0:
            prows = [self._new_product() for _ in range(self.N_PRODUCTS)]
        else:
            renamed = rng.sample(sorted(self.products), 3)
            prows = []
            for pid in renamed:
                _, did, dept, name = self.products[pid]
                ver = int(name.rsplit("-v", 1)[1]) + 1
                prows.append((pid, did, dept, f"product-{pid}-v{ver}"))
            prows += [self._new_product() for _ in range(2)]
        for r in prows:
            day.product_upserts[r[0]] = r
        dirty_p = [(str(900_000 + day.index), None, "misc", "ghost"),
                   (None, 3, "bakery", "nameless")]
        lines = prows + dirty_p + [prows[0]]          # one exact duplicate
        rng.shuffle(lines)
        day.files["products"] = (f"products_d{day.index:04d}.csv",
                                 _csv_text(PRODUCTS_HEADER, lines))
        day.counts["products"] = (len(prows), len(dirty_p))
        self.products.update(day.product_upserts)

        # orders: new orders, corrections of the previous week, dirty rows
        new_orders = []
        for _ in range(self.ORDERS_PER_DAY):
            oid = str(self.next_order)
            self.next_order += 1
            ts = dt.datetime.combine(day.date, dt.time()) + dt.timedelta(
                seconds=rng.randrange(86400))
            new_orders.append((oid, f"u{rng.randrange(400)}",
                               ts.strftime("%Y-%m-%d %H:%M:%S"),
                               _money(rng), day.date.isoformat()))
        recent = [o for d in self.orders_by_day[-7:] for o in d]
        fixes = []
        for oid in rng.sample(recent, min(len(recent),
                                          self.CORRECTIONS_PER_DAY)):
            _, user, ts, amount, date = self.orders[oid]
            fixes.append((oid, user, ts, round(amount + 1.25, 2), date))
        valid = new_orders + fixes
        for r in valid:
            day.order_upserts[r[0]] = r
        when = f"{day.date.isoformat()} 12:00:00"
        dirty_o = [
            (str(8_000_000 + day.index * 10 + 0), None, when, 10.0),
            (str(8_000_000 + day.index * 10 + 1), None, when, 11.0),
            (str(8_000_000 + day.index * 10 + 2), "u1", when, -4.5),
            (str(8_000_000 + day.index * 10 + 3), "u2", when, -0.5),
            (str(8_000_000 + day.index * 10 + 4), "u3",
             "1985-06-01 08:00:00", 20.0),
        ]
        lines = [(oid, user, ts, amount) for oid, user, ts, amount, _ in valid]
        lines += dirty_o + lines[:2]                  # two exact duplicates
        rng.shuffle(lines)
        lines = [(str(i),) + r for i, r in enumerate(lines)]
        day.files["orders"] = (f"orders_d{day.index:04d}.csv",
                               _csv_text(ORDERS_HEADER, lines))
        day.counts["orders"] = (len(valid), len(dirty_o))
        self.orders.update(day.order_upserts)
        self.orders_by_day.append([r[0] for r in new_orders])

        # order_items for today's new orders, plus nulls and orphans
        items = []
        pids = sorted(self.products)
        for oid, user, ts, _, _ in new_orders:
            for pos in range(1 + rng.randrange(3)):
                iid = str(self.next_item)
                self.next_item += 1
                prior = rng.randrange(30) if rng.random() < 0.8 else None
                items.append((iid, oid, user, prior, rng.choice(pids),
                              pos + 1, rng.random() < 0.5, ts))
        for r in items:
            day.item_upserts[r[0]] = (r[0], r[1], r[2], r[3], r[4], r[5],
                                      r[6], r[7], r[7][:10])
        orphans, dirty_i = [], []
        for k in range(5):
            iid = str(self.next_item)
            self.next_item += 1
            base = rng.choice(items)
            if k < 3:     # order that never existed
                orphans.append((iid, str(9_000_000 + self.next_item))
                               + base[2:])
            else:         # product that never existed
                orphans.append((iid,) + base[1:4] + ("999999",) + base[5:])
        for _ in range(3):
            iid = str(self.next_item)
            self.next_item += 1
            base = rng.choice(items)
            dirty_i.append((iid, base[1], base[2], base[3], None) + base[5:])
        lines = items + orphans + dirty_i + [items[0]]
        rng.shuffle(lines)
        lines = [(iid, oid, user, prior, pid, pos,
                  "true" if re else "false", ts)
                 for iid, oid, user, prior, pid, pos, re, ts in lines]
        day.files["order_items"] = (f"order_items_d{day.index:04d}.csv",
                                    _csv_text(ITEMS_HEADER, lines))
        day.counts["order_items"] = (len(items), len(dirty_i))
        day.orphans = len(orphans)

        if day.index >= 1:
            day.relanded = ("orders", self.days[-1].files["orders"][0])
        self.days.append(day)
        return day


def etl_file_ops(days):
    """The landed-file sequence: each day's products, orders and
    order_items files, then the day's re-landed file, if any. Each entry
    is (day, dataset, file name, is_reland)."""
    ops = []
    for d in days:
        for ds in ("products", "orders", "order_items"):
            ops.append((d, ds, d.files[ds][0], False))
        if d.relanded:
            ops.append((d, d.relanded[0], d.relanded[1], True))
    return ops


def etl_replay(file_ops):
    """Expected table contents after the given landed files, and the
    product count the validation query sees after each of them."""
    tables = {"products": {}, "orders": {}, "order_items": {}}
    upserts = {"products": "product_upserts", "orders": "order_upserts",
               "order_items": "item_upserts"}
    counts = []
    for d, ds, _, reland in file_ops:
        if not reland:
            tables[ds].update(getattr(d, upserts[ds]))
        counts.append(len(tables["products"]))
    return tables, counts


def write_etl_days(root, days):
    """Write each day's raw files under root/day-NNNN/<dataset>/."""
    for d in days:
        for ds, (name, text) in d.files.items():
            p = os.path.join(root, f"day-{d.index:04d}", ds)
            os.makedirs(p, exist_ok=True)
            with open(os.path.join(p, name), "w") as f:
                f.write(text)


# ---------------------------------------------------------------------------
# lake_reads: the tables it reads, at the reference's published scale

class LakeBuild:
    """The products, orders and order_items tables lake_reads queries,
    sized from the reference's one published query (BASELINE.md): its
    top-5-products query scans 3.39 MB and its top product has about
    19,400 orders. Here about 2.2M order_items over 5,000 products with
    Zipf(0.55) popularity give a top product of about 20,000 items and a
    product_id column of about 3.9 MB in the built table. Orders come one
    file per day,
    appended one commit per day. Amounts are whole cents, so expected sums
    are exact. Everything the oracle needs is kept as arrays."""

    N_PRODUCTS = 5000
    DAYS = 11              # one orders commit past the first checkpoint
    ORDERS_PER_DAY = 20_000
    MAX_ITEMS = 19         # items per order: 1 to 19, 10 on average
    POPULARITY = 0.55
    N_USERS = 40_000
    FIRST_ORDER = 1_000_000
    FIRST_ITEM = 5_000_000
    FIRST_PRODUCT = 100_000

    def __init__(self, seed):
        import numpy as np
        rng = np.random.default_rng(
            int(hashlib.md5(f"lake:{seed}".encode()).hexdigest(), 16))
        p, n = self.N_PRODUCTS, self.DAYS * self.ORDERS_PER_DAY
        self.product_dept = rng.integers(0, len(DEPARTMENTS), p)
        # the popularity rank of each product is seeded
        weight = np.empty(p)
        weight[rng.permutation(p)] = (
            1.0 / np.arange(1, p + 1) ** self.POPULARITY)
        self.order_day = np.arange(n) // self.ORDERS_PER_DAY
        self.order_user = rng.integers(0, self.N_USERS, n)
        self.order_second = rng.integers(0, 86400, n)
        self.order_cents = rng.integers(500, 50_000, n)
        per_order = rng.integers(1, self.MAX_ITEMS + 1, n)
        self.item_order = np.repeat(np.arange(n), per_order)
        m = len(self.item_order)
        first = np.cumsum(per_order) - per_order
        self.item_pos = np.arange(m) - np.repeat(first, per_order) + 1
        self.item_product = rng.choice(p, size=m, p=weight / weight.sum())
        self.item_prior = rng.integers(0, 30, m)
        self.item_prior_null = rng.random(m) < 0.2
        self.item_reordered = rng.random(m) < 0.5
        day_cents = np.bincount(self.order_day, weights=self.order_cents,
                                minlength=self.DAYS)
        self.day_cents = [int(c) for c in day_cents]

    @property
    def n_orders(self):
        return len(self.order_day)

    @property
    def n_items(self):
        return len(self.item_order)

    def order_id(self, i):
        return str(self.FIRST_ORDER + i)

    def order_ids(self):
        return [self.order_id(i) for i in range(self.n_orders)]

    def order_row(self, order_id):
        """(order_id, user_id, total_amount) of one order."""
        i = int(order_id) - self.FIRST_ORDER
        return [order_id, f"u{self.order_user[i]}",
                int(self.order_cents[i]) / 100]

    def amount_agg(self, lo_day, hi_day):
        """[count, rounded sum of total_amount] of the orders of days
        lo_day..hi_day."""
        cents = sum(self.day_cents[lo_day:hi_day + 1])
        return [(hi_day - lo_day + 1) * self.ORDERS_PER_DAY,
                round(cents / 100, 2)]

    def top5(self):
        import numpy as np
        counts = np.bincount(self.item_product, minlength=self.N_PRODUCTS)
        named = sorted((-int(c), f"product-{self.FIRST_PRODUCT + i}")
                       for i, c in enumerate(counts) if c)
        return [[name, -c] for c, name in named[:5]]

    def write(self, root):
        """Parquet inputs of the build, one file per commit in commit
        order: the product catalog, one file of orders per day, and all
        order_items at once. Returns [(table, path)]."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        os.makedirs(root, exist_ok=True)
        commits = []

        def put(table, name, columns):
            path = os.path.join(root, name)
            pq.write_table(pa.table(columns), path)
            commits.append((table, path))

        def ids(first, n):
            return pc.cast(pa.array(np.arange(first, first + n)), pa.string())

        pids = ids(self.FIRST_PRODUCT, self.N_PRODUCTS)
        put("products", "products.parquet", {
            "product_id": pids,
            "department_id": pa.array(self.product_dept + 1, pa.int32()),
            "department": pa.array(DEPARTMENTS).take(
                pa.array(self.product_dept)),
            "product_name": pc.binary_join_element_wise(
                "product-", pids, "")})
        oids = ids(self.FIRST_ORDER, self.n_orders)
        users = pa.array([f"u{i}" for i in range(self.N_USERS)]).take(
            pa.array(self.order_user))
        epoch_day = (BASE_DATE - dt.date(1970, 1, 1)).days + self.order_day
        micros = (epoch_day * 86400 + self.order_second) * 1_000_000
        ts = pa.array(micros, pa.timestamp("us", tz="UTC"))
        dates = pa.array(epoch_day.astype(np.int32), pa.date32())
        amount = pa.array(self.order_cents / 100)
        for d in range(self.DAYS):
            lo, n = d * self.ORDERS_PER_DAY, self.ORDERS_PER_DAY
            put("orders", f"orders_d{d:04d}.parquet", {
                "order_id": oids.slice(lo, n), "user_id": users.slice(lo, n),
                "order_timestamp": ts.slice(lo, n),
                "total_amount": amount.slice(lo, n),
                "date": dates.slice(lo, n)})
        at = pa.array(self.item_order)
        put("order_items", "order_items.parquet", {
            "id": ids(self.FIRST_ITEM, self.n_items),
            "order_id": oids.take(at), "user_id": users.take(at),
            "days_since_prior_order": pa.array(
                self.item_prior.astype(np.int32), pa.int32(),
                mask=self.item_prior_null),
            "product_id": pids.take(pa.array(self.item_product)),
            "add_to_cart_order": pa.array(self.item_pos.astype(np.int32)),
            "reordered": pa.array(self.item_reordered),
            "order_timestamp": ts.take(at), "date": dates.take(at)})
        return commits


# ---------------------------------------------------------------------------
# lake_reads: a seeded mix of read operations over the built tables

LAKE_READ_KINDS = ("top5", "range", "range", "point", "probe", "travel",
                   "sql_top5", "sql_range", "sql_travel", "point")


def lake_read_ops(seed, n_cycles, n_days, order_ids):
    """Op specs for the timed read mix, in cycles: every cycle holds each
    kind of LAKE_READ_KINDS once, in seeded order. Parameters are seeded
    but every cycle costs the same: date ranges span three days, and the
    two time-travel reads go to days k and n_days - 1 - k, so together they
    always read the same number of files and rows. `order_ids` are orders
    that exist after the last build day (point lookups hit)."""
    rng = random.Random(f"reads:{seed}")
    ops = []
    for _ in range(n_cycles):
        kinds = list(LAKE_READ_KINDS)
        rng.shuffle(kinds)
        k = rng.randrange(n_days)
        travel_days = [k, n_days - 1 - k]
        for kind in kinds:
            if kind in ("range", "sql_range"):
                lo = rng.randrange(n_days - 2)
                ops.append({"kind": kind,
                            "lo": (BASE_DATE + dt.timedelta(days=lo)).isoformat(),
                            "hi": (BASE_DATE + dt.timedelta(days=lo + 2)).isoformat()})
            elif kind == "point":
                ops.append({"kind": kind, "id": rng.choice(order_ids)})
            elif kind == "probe":
                ops.append({"kind": kind, "ids": rng.sample(order_ids, 5)})
            elif kind in ("travel", "sql_travel"):
                ops.append({"kind": kind, "day": travel_days.pop()})
            else:
                ops.append({"kind": kind})
    return ops


# ---------------------------------------------------------------------------
# cdc_stream: change-event files with late and out-of-order events

CDC_HEADER = ["order_id", "user_id", "total_amount", "date", "seq",
              "_change_type"]


class CdcGenerator:
    """Files of CDC events against an orders-like table partitioned by
    date. Each file holds inserts of the current day's orders, updates
    (some with their preimage) and deletes of orders from the last three
    days, re-inserts of deleted keys, late updates sequenced below the
    key's stored sequence, and pre-delete stragglers for deleted keys.
    The current day advances every FILES_PER_DAY files. Sequences are
    unique per key, so the newest event per key is always well defined."""

    # events per file: inserts, updates, deletes, late updates,
    # pre-delete stragglers, re-inserts
    SIZES = (120, 40, 12, 8, 4, 2)
    FILES_PER_DAY = 3

    def __init__(self, seed):
        self.rng = random.Random(f"cdc:{seed}")
        self.seq = 0
        self.next_key = 1
        self.live = {}      # key -> (seq, user, amount, date)
        self.dead = {}      # key -> (delete seq, date)
        self.files = []     # (name, text, rows)

    def _seq(self):
        self.seq += 10
        return self.seq

    def file(self):
        rng = self.rng
        n_ins, n_upd, n_del, n_late, n_strag, n_reins = self.SIZES
        today = len(self.files) // self.FILES_PER_DAY
        date = (BASE_DATE + dt.timedelta(days=today)).isoformat()
        recent = (BASE_DATE + dt.timedelta(days=today - 2)).isoformat()
        ev = []
        for _ in range(n_ins):
            k = self.next_key
            self.next_key += 1
            ev.append((k, f"u{rng.randrange(300)}", _money(rng), date,
                       self._seq(), "insert"))
        live = sorted(k for k, v in self.live.items() if v[3] >= recent)
        touched = rng.sample(live, min(len(live), n_upd + n_del + n_late))
        upd = touched[:n_upd]
        dels = touched[n_upd:n_upd + n_del]
        lates = touched[n_upd + n_del:]
        for k in upd:
            s0, user, amount, kdate = self.live[k]
            s = self._seq()
            if rng.random() < 0.3:
                ev.append((k, user, amount, kdate, s, "update_preimage"))
            ev.append((k, user, round(amount + 3.5, 2), kdate, s,
                       "update_postimage" if rng.random() < 0.5
                       else "update"))
        for k in dels:
            s0, user, amount, kdate = self.live[k]
            ev.append((k, user, amount, kdate, self._seq(), "delete"))
        for k in lates:
            s0, user, amount, kdate = self.live[k]
            # below the stored sequence (seqs advance by 10; -5 is unused)
            ev.append((k, user, round(amount + 99.0, 2), kdate, s0 - 5,
                       "update"))
        dead = sorted(k for k, v in self.dead.items() if v[1] >= recent)
        for k in rng.sample(dead, min(len(dead), n_strag)):
            sd, kdate = self.dead[k]
            ev.append((k, "ghost", 1.0, kdate, sd - 5, "update"))
        rest = sorted(set(dead) - {e[0] for e in ev})
        for k in rng.sample(rest, min(len(rest), n_reins)):
            _, kdate = self.dead[k]
            ev.append((k, f"u{rng.randrange(300)}", _money(rng), kdate,
                       self._seq(), "insert"))
        rng.shuffle(ev)
        self._apply(ev)
        name = f"cdc_{len(self.files):05d}.csv"
        self.files.append((name, _csv_text(CDC_HEADER, ev), len(ev)))
        return self.files[-1]

    def _apply(self, events):
        """The expected semantics of one drained file: preimages are
        ignored; an event survives only if its sequence beats both the
        key's stored live sequence and its newest tombstone; survivors
        collapse to the newest per key; deletes of surviving events are
        tombstoned."""
        tomb_before = dict(self.dead)
        events = [e for e in events if e[5] != "update_preimage"]
        guarded = []
        for e in events:
            k, seq = e[0], e[4]
            bar = max(self.live[k][0] if k in self.live else -1,
                      tomb_before[k][0] if k in tomb_before else -1)
            if seq > bar:
                guarded.append(e)
        newest = {}
        for e in guarded:
            if e[0] not in newest or e[4] > newest[e[0]][4]:
                newest[e[0]] = e
        for k, e in newest.items():
            if e[5] == "delete":
                self.live.pop(k, None)
            else:
                self.live[k] = (e[4], e[1], e[2], e[3])
        for e in guarded:
            if e[5] == "delete":
                k = e[0]
                prev = self.dead.get(k)
                if prev is None or e[4] > prev[0]:
                    self.dead[k] = (e[4], e[3])
        self.applied = 1 if newest else 0


def cdc_replay(seed, n_files):
    """Expected live rows after draining the first `n_files` files."""
    g = CdcGenerator(seed)
    for _ in range(n_files):
        g.file()
    return g.live


# ---------------------------------------------------------------------------
# corpus_curate: documents + embeddings parquet for the LLM prep line

VOCAB = ("spark table scan merge join window stream batch query filter "
         "group order part key value data row column hash sort agg line "
         "customer vector index shard token chunk cache commit log").split()
STOP = ["the", "a", "and", "is", "of"]


EMBEDDING_DIM = 64
EMBEDDING_CLUSTERS = 8


def corpus_tables(seed, n_docs):
    """Documents with controlled exact-duplicate, near-duplicate,
    boilerplate and eval-contamination rates, plus clustered embeddings.
    Returns (documents columns, embeddings columns, shard row counts)."""
    rng = random.Random(f"corpus:{seed}")
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i >= 40 and r < 0.06:           # exact duplicate
            t = texts[rng.randrange(i)]
        elif i >= 40 and r < 0.14:         # near duplicate: 1-2 edits
            toks = texts[rng.randrange(i)].split(" ")
            for _ in range(1 + rng.randrange(2)):
                toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
            t = " ".join(toks)
        elif r < 0.18:                     # boilerplate: fails repetition
            t = " ".join(["click here to subscribe"] * (6 + rng.randrange(6)))
        elif r < 0.22:                     # too short for the quality gate
            t = " ".join(rng.choice(VOCAB) for _ in range(5 + rng.randrange(10)))
        else:
            n = 25 + rng.randrange(70)
            toks = [rng.choice(STOP) if rng.random() < 0.2
                    else rng.choice(VOCAB) for _ in range(n)]
            if i >= 40 and rng.random() < 0.1:
                # shares its first 10-token chunk with an earlier document
                # (eval contamination when that document is held out)
                src = texts[rng.randrange(i)].split(" ")
                if len(src) >= 10:
                    toks[:10] = src[:10]
            t = " ".join(toks)
        texts.append(t)
    docs = {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [rng.choice(["en", "de", "fr", "es", "zh"])
                 for _ in range(n_docs)],
        "source": [f"src{rng.randrange(6)}" for _ in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }
    centers = [[rng.gauss(0.0, 1.0) for _ in range(EMBEDDING_DIM)]
               for _ in range(EMBEDDING_CLUSTERS)]
    vecs = []
    for _ in range(n_docs):
        c = centers[rng.randrange(EMBEDDING_CLUSTERS)]
        vecs.append([x + rng.gauss(0.0, 0.35) for x in c])
    emb = {"vec_id": list(range(n_docs)), "embedding": vecs,
           "label": [rng.randrange(EMBEDDING_CLUSTERS) for _ in range(n_docs)]}
    # uneven shard files: half, a third, the rest
    cut1, cut2 = n_docs // 2, n_docs // 2 + n_docs // 3
    return docs, emb, [(0, cut1), (cut1, cut2), (cut2, n_docs)]


def write_corpus(root, seed, n_docs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    docs, emb, shards = corpus_tables(seed, n_docs)
    dschema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string()), ("source", pa.string()),
                         ("n_chars", pa.int64())])
    eschema = pa.schema([("vec_id", pa.int64()),
                         ("embedding", pa.list_(pa.float32())),
                         ("label", pa.int32())])
    for name, cols, schema in (("documents", docs, dschema),
                               ("embeddings", emb, eschema)):
        d = os.path.join(root, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        table = pa.table(cols, schema=schema)
        for i, (lo, hi) in enumerate(shards):
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(d, f"part-{i:05d}.parquet"))
    return len(docs["doc_id"])


def digest_tree(root):
    """md5 over every file's relative path and bytes, in path order."""
    h = hashlib.md5()
    for dirpath, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
