"""Seeded ETL drops for the benchmark.

`drops(fixture_dir, out, seed, ...)` derives reference-shaped ETL drops
from the program's sf0.01 fixture (a copy is in perfbench/fixture), in
the shape of tools/gen_etl_drops.py: a history window of dates, then
one-date daily drops. Each daily drop carries re-delivered updates of
earlier orders, order items that reference a missing product
(referential-integrity rejects) and one late product that unblocks the
items the step before it held back. The expected silver counts are
returned (and written to expected.json) for the correctness check.

The same seed always gives byte-identical drops.
"""
import csv
import datetime as dt
import json
import os

import numpy as np
import pyarrow.parquet as pq

ORDER_DAYS = 2405  # the fixture's order dates: 1995-01-01 + [0, ORDER_DAYS)


# ── ETL drops ────────────────────────────────────────────────────────────

ORDER_COLS = ["order_num", "order_id", "user_id", "order_timestamp",
              "total_amount", "date"]
ITEM_COLS = ["id", "order_id", "user_id", "days_since_prior_order",
             "product_id", "add_to_cart_order", "reordered",
             "order_timestamp", "date"]
PRODUCT_COLS = ["product_id", "department_id", "department", "product_name"]
BAD_PRODUCT = -9999
UPDATES_PER_DROP = 6  # earlier orders each drop re-delivers, amount changed
RI_EVERY = 40         # one item in RI_EVERY points at BAD_PRODUCT


def _csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def drops(fixture_dir, out, seed, history_days, n_batches):
    """Write <out>/history/{products,orders,order_items}/ and
    <out>/batch-NN/{products,orders,order_items}/ and return the expected
    counts. Orders are the fixture's orders, items its line items; the
    seed picks the first history date, which orders each batch re-delivers
    (with a changed amount), and which items violate referential
    integrity (every RI_EVERY-th item from a seeded offset)."""
    rng = np.random.default_rng(seed + 7919)
    part = pq.read_table(os.path.join(fixture_dir, "part.parquet")).to_pydict()
    orders = pq.read_table(os.path.join(fixture_dir, "orders.parquet")).to_pydict()
    li = pq.read_table(os.path.join(fixture_dir, "lineitem.parquet")).to_pydict()

    brands = sorted(set(part["p_brand"]))
    dept_id = {b: i + 1 for i, b in enumerate(brands)}
    products = [(int(k), dept_id[b], b, n) for k, b, n in
                zip(part["p_partkey"], part["p_brand"], part["p_name"])]
    n_part = len(products)

    start = int(rng.integers(0, ORDER_DAYS - history_days - n_batches))
    day0 = dt.date(1995, 1, 1)
    dates = [day0 + dt.timedelta(days=start + d)
             for d in range(history_days + n_batches)]
    by_date = {d: [] for d in dates}
    for k, c, p, od in zip(orders["o_orderkey"], orders["o_custkey"],
                           orders["o_totalprice"], orders["o_orderdate"]):
        d = od.date()
        if d in by_date:
            by_date[d].append((int(k), int(c), float(p)))
    order_day = {k: d for d, os_ in by_date.items() for k, _, _ in os_}
    cust = {k: c for os_ in by_date.values() for k, c, _ in os_}
    items_by_date = {d: [] for d in dates}
    ri_offset = int(rng.integers(0, RI_EVERY))
    seq = 0
    for i, (ok, pk, ln) in enumerate(zip(li["l_orderkey"], li["l_partkey"],
                                         li["l_linenumber"])):
        d = order_day.get(int(ok))
        if d is None:
            continue
        seq += 1
        bad = (seq + ri_offset) % RI_EVERY == 0
        items_by_date[d].append([i + 1, int(ok), cust[int(ok)], int(ok) % 31,
                                 BAD_PRODUCT if bad else int(pk), int(ln),
                                 int(ln) % 2])

    def ts(d, k):
        return (dt.datetime.combine(d, dt.time()) +
                dt.timedelta(seconds=k % 86400)).strftime("%Y-%m-%dT%H:%M:%S")

    def order_rows(ds):
        return [[k % 100000, k, c, ts(d, k), round(p, 2),
                 d.isoformat()] for d in ds for k, c, p in by_date[d]]

    def item_rows(d, rows):
        return [r + [ts(d, r[1]), d.isoformat()] for r in rows]

    def hold(rows, product):
        """The first two good items of a step wait for `product`, the
        late product of the next drop; their replay recovers them there."""
        held = [r for r in rows if r[4] != BAD_PRODUCT][:2]
        for r in held:
            r[4] = product
        return len(held)

    hist = dates[:history_days]
    pending = hold(items_by_date[hist[-1]], n_part)
    h_items = [r for d in hist for r in item_rows(d, items_by_date[d])]
    _csv(f"{out}/history/products/products.csv", PRODUCT_COLS, products)
    _csv(f"{out}/history/orders/orders.csv", ORDER_COLS, order_rows(hist))
    _csv(f"{out}/history/order_items/order_items.csv", ITEM_COLS, h_items)
    n_bad = sum(r[4] == BAD_PRODUCT for r in h_items) + pending
    expected = {"history": {
        "products": [n_part, 0], "orders": [len(order_rows(hist)), 0],
        "order_items": [len(h_items) - n_bad, n_bad], "recovered": 0,
        "dates": [d.isoformat() for d in hist]}, "batches": []}

    past = [k for d in hist for k, _, _ in by_date[d]]
    for b in range(n_batches):
        d = dates[history_days + b]
        name = f"batch-{b:02d}"
        _csv(f"{out}/{name}/products/products-{d.isoformat()}.csv",
             PRODUCT_COLS, [(n_part + b, 1, brands[0], f"late product {b}")])
        redelivered = sorted(int(k) for k in
                             rng.choice(past, UPDATES_PER_DROP, replace=False))
        upd = [[k % 100000, k, cust[k], ts(order_day[k], k),
                round(next(p for kk, _, p in by_date[order_day[k]] if kk == k)
                      + 1.0 + b, 2), order_day[k].isoformat()]
               for k in redelivered]
        _csv(f"{out}/{name}/orders/orders-{d.isoformat()}.csv", ORDER_COLS,
             order_rows([d]) + upd)
        rows = items_by_date[d]
        waiting = hold(rows, n_part + b + 1)  # the last drop's never arrives
        _csv(f"{out}/{name}/order_items/order_items-{d.isoformat()}.csv",
             ITEM_COLS, item_rows(d, rows))
        bad = sum(r[4] == BAD_PRODUCT for r in rows) + waiting
        touched = sorted({d.isoformat()} |
                         {order_day[k].isoformat() for k in redelivered})
        expected["batches"].append({
            "name": name, "date": d.isoformat(), "touched": touched,
            "products": [1, 0], "orders": [len(by_date[d]) + len(upd), 0],
            "order_items": [len(rows) - bad, bad], "recovered": pending})
        pending = waiting
        past += [k for k, _, _ in by_date[d]]
    # serving-read keys per step: a user with a history item of a known
    # product (gold customer insights joins each user to a favourite
    # product, so only such users have a row) and a product with history
    # items
    users = sorted({r[2] for r in h_items if 0 <= r[4] < n_part})
    prods = sorted({r[4] for r in h_items if 0 <= r[4] < n_part})
    with open(os.path.join(out, "serve_keys.txt"), "w") as f:
        for step in ["history"] + [b["name"] for b in expected["batches"]]:
            f.write(f"{step} {users[rng.integers(len(users))]} "
                    f"{prods[rng.integers(len(prods))]}\n")
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)
    return expected
