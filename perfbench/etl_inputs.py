"""Seeded raw-zone generator for the ``etl_ingest`` workload.

Writes the reference's three source datasets the way they arrive
(FIXTURES.md section A): one products CSV and ``N_BOOKS`` real ``.xlsx``
workbooks each for orders and order_items, written with the engine's own
``sources.xlsx.write_xlsx``. Every batch carries the planted dirt the
pipeline must handle:

- null required fields (rejected as "Missing required fields");
- duplicate merge keys inside a file (dropped by the dedup);
- one orders sheet without ``order_timestamp`` (skipped whole);
- order_items rows whose ``order_id`` or ``product_id`` dangles
  (rejected as FK violations).

Batch 2 is the next month: part of its keys repeat batch-1 keys, so the
MERGE both updates and inserts, and it re-drops some batch-1 files under
their original names, which the processed-file marker log must skip.

Each ``Batch`` carries the expected outcome, worked out by replaying the
pipeline's semantics in plain Python (``_Lake``), so the workload can
check exact loaded / rejected / skipped counts. The
generator runs in one process with no Spark; the engine only ever sees
the files it writes.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import pandas as pd

from lakehouse_ecommerce_etl_pipeline_spark.sources.xlsx import write_xlsx

DEPARTMENTS = [
    "produce", "dairy", "bakery", "frozen", "pantry",
    "beverages", "snacks", "household", "personal", "pets",
]
ORDER_COLS = ["order_num", "order_id", "user_id", "order_timestamp", "total_amount"]
ITEM_COLS = [
    "id", "order_id", "user_id", "days_since_prior_order", "product_id",
    "add_to_cart_order", "reordered", "order_timestamp",
]
REQUIRED = {
    "products": ["product_id", "department_id", "department", "product_name"],
    "orders": ["order_id", "user_id", "order_timestamp"],
    "order_items": ["id", "order_id", "user_id", "product_id", "order_timestamp"],
}
KEY = {"products": "product_id", "orders": "order_id", "order_items": "id"}


# One workbook per dataset and batch: a file costs about 6 s of fixed
# pipeline work, and a run must stay within its share of the time budget.
N_BOOKS = 1
NEXT_MONTH_SHARE = 0.5  # batch 2 rows relative to batch 1
OVERLAP_SHARE = 0.4  # share of batch-2 keys that repeat batch-1 keys


@dataclass(frozen=True)
class EtlSize:
    """Rows of batch 1, before dirt."""

    products: int = 800
    orders: int = 3200
    items: int = 9600


@dataclass
class Batch:
    """What one batch offers and what the pipeline must report for it."""

    raw_rows: int = 0  # every data row offered, dirty and skipped ones too
    raw_bytes: int = 0
    loaded: dict[str, int] = field(default_factory=dict)  # table size after batch
    rejected: dict[str, int] = field(default_factory=dict)  # quarantined in batch
    skipped: int = 0  # re-dropped files the marker log must skip
    processed_files: int = 0  # files that reach run_dataset


class _Lake:
    """Pipeline semantics in plain Python: the key sets of the managed
    tables, updated file by file in ``DATASET_ORDER``."""

    def __init__(self) -> None:
        self.keys: dict[str, set[str]] = {d: set() for d in KEY}

    def ingest(self, dataset: str, rows: list[dict]) -> int:
        """Apply one file's rows; return how many are quarantined."""
        rejected = 0
        kept = set()
        for r in rows:
            if any(r.get(c) is None for c in REQUIRED[dataset]):
                rejected += 1
                continue
            if dataset == "order_items" and (
                r["order_id"] not in self.keys["orders"]
                or r["product_id"] not in self.keys["products"]
            ):
                rejected += 1
                continue
            kept.add(r[KEY[dataset]])
        self.keys[dataset] |= kept
        return rejected


class EtlGenerator:
    """Writes batch 1 and batch 2 of one seeded run into ``raw_dir``."""

    def __init__(self, seed: int, size: EtlSize = EtlSize()) -> None:
        self.rng = random.Random(seed)
        self.size = size
        self.lake = _Lake()
        self._batch1_names: dict[str, list[str]] = {}
        self._batch1_bytes: dict[tuple[str, str], bytes] = {}
        self._batch1_rows: dict[tuple[str, str], int] = {}

    # -- row factories --------------------------------------------------
    def _products(self, ids: list[int]) -> list[dict]:
        rng = self.rng
        out = []
        for i in ids:
            dep = rng.randrange(len(DEPARTMENTS))
            out.append({
                "product_id": f"P{i:06d}",
                "department_id": dep + 1,
                "department": DEPARTMENTS[dep],
                "product_name": f"item {rng.randrange(10_000)}",
            })
        return out

    def _orders(self, ids: list[int], month: int) -> list[dict]:
        rng = self.rng
        start = dt.datetime(2024, month, 1)
        return [
            {
                "order_num": f"N{i:07d}",
                "order_id": f"O{i:07d}",
                "user_id": f"U{rng.randrange(2_000):05d}",
                "order_timestamp": start
                + dt.timedelta(seconds=rng.randrange(27 * 86_400)),
                "total_amount": round(rng.uniform(-20.0, 900.0), 2),
            }
            for i in ids
        ]

    def _items(self, ids: list[int], orders: list[str], products: list[str],
               month: int) -> list[dict]:
        rng = self.rng
        start = dt.datetime(2024, month, 1)
        return [
            {
                "id": f"I{i:08d}",
                "order_id": rng.choice(orders),
                "user_id": f"U{rng.randrange(2_000):05d}",
                "days_since_prior_order": None
                if rng.random() < 0.1 else rng.randrange(31),
                "product_id": rng.choice(products),
                "add_to_cart_order": rng.randrange(1, 30),
                "reordered": rng.randrange(2),
                "order_timestamp": start
                + dt.timedelta(seconds=rng.randrange(27 * 86_400)),
            }
            for i in ids
        ]

    def _dirty(self, dataset: str, rows: list[dict]) -> list[dict]:
        """Plant ~2% null required fields and ~2% duplicate keys."""
        rng = self.rng
        rows = [dict(r) for r in rows]
        n = len(rows)
        for idx in rng.sample(range(n), max(1, n // 50)):
            rows[idx][rng.choice(REQUIRED[dataset])] = None
        clean = [r for r in rows if all(r[c] is not None for c in REQUIRED[dataset])]
        for src in rng.sample(clean, max(1, n // 50)):
            dup = dict(src)
            if dataset == "orders":
                dup["total_amount"] = round(rng.uniform(-20.0, 900.0), 2)
            rows.insert(rng.randrange(len(rows) + 1), dup)
        return rows

    def _dangling(self, rows: list[dict]) -> None:
        """~3% of order_items point at an order or product that no batch
        ever loads (one dangling FK per row, so each rejects once)."""
        rng = self.rng
        for idx in rng.sample(range(len(rows)), max(2, len(rows) * 3 // 100)):
            col = "order_id" if idx % 2 else "product_id"
            rows[idx][col] = ("O9" if col == "order_id" else "P9") + f"{idx:06d}X"

    # -- writers --------------------------------------------------------
    def _split(self, rows: list[dict], parts: int) -> list[list[dict]]:
        return [rows[i::parts] for i in range(parts)]

    def _write_books(self, raw_dir: str, dataset: str, tag: str,
                     rows: list[dict], cols: list[str],
                     malformed: bool) -> list[tuple[str, list[dict]]]:
        """Write ``N_BOOKS`` workbooks of two sheets each; with
        ``malformed``, the first workbook gains a third sheet without
        ``order_timestamp`` whose rows the pipeline must skip."""
        out = []
        d = os.path.join(raw_dir, dataset)
        os.makedirs(d, exist_ok=True)
        for b, part in enumerate(self._split(rows, N_BOOKS)):
            name = f"{dataset}_{tag}_{b:02d}.xlsx"
            half = len(part) // 2
            # object dtype keeps a null timestamp an empty cell:
            # write_xlsx renders a pandas NaT as the serial "nan", which
            # its own reader cannot parse back
            sheets = {
                "sheet_a": pd.DataFrame(part[:half], columns=cols, dtype=object),
                "sheet_b": pd.DataFrame(part[half:], columns=cols, dtype=object),
            }
            if malformed and b == 0:
                bad = self._orders(list(range(900_000, 900_040)), 1)
                sheets["legacy"] = pd.DataFrame(bad, columns=cols).drop(
                    columns=["order_timestamp"]
                )
                self._raw_rows_extra += len(bad)
            write_xlsx(os.path.join(d, name), sheets)
            out.append((name, part))
        return out

    def _write_csv(self, raw_dir: str, name: str, rows: list[dict]) -> None:
        d = os.path.join(raw_dir, "products")
        os.makedirs(d, exist_ok=True)
        pdf = pd.DataFrame(rows, columns=REQUIRED["products"])
        pdf["department_id"] = pdf["department_id"].astype("Int32")
        pdf.to_csv(os.path.join(d, name), index=False)

    # -- batches --------------------------------------------------------
    def write_batch(self, raw_dir: str, batch_no: int) -> Batch:
        """Write batch 1 (empty lake) or batch 2 (next month) into
        ``raw_dir`` and return its expected outcome."""
        s = self.size
        rng = self.rng
        self._raw_rows_extra = 0
        month = batch_no
        if batch_no == 1:
            pid = list(range(s.products))
            oid = list(range(s.orders))
            iid = list(range(s.items))
        else:
            def nxt(n_prev: int) -> list[int]:
                n = int(n_prev * NEXT_MONTH_SHARE)
                old = rng.sample(range(n_prev), int(n * OVERLAP_SHARE))
                return sorted(old) + list(range(n_prev, n_prev + n - len(old)))
            pid, oid, iid = nxt(s.products), nxt(s.orders), nxt(s.items)

        products = self._dirty("products", self._products(pid))
        orders = self._dirty("orders", self._orders(oid, month))
        known_orders = sorted(
            (self.lake.keys["orders"] | {o["order_id"] for o in orders
                                         if o["order_id"] is not None})
        )
        known_products = sorted(
            (self.lake.keys["products"] | {p["product_id"] for p in products
                                           if p["product_id"] is not None})
        )
        items = self._items(iid, known_orders, known_products, month)
        self._dangling(items)
        items = self._dirty("order_items", items)

        batch = Batch()
        tag = f"b{batch_no}"
        per_file: dict[str, list[tuple[str, list[dict]]]] = {}
        csv_name = f"products_{tag}.csv"
        self._write_csv(raw_dir, csv_name, products)
        per_file["products"] = [(csv_name, products)]
        per_file["orders"] = self._write_books(
            raw_dir, "orders", tag, orders, ORDER_COLS, malformed=True
        )
        per_file["order_items"] = self._write_books(
            raw_dir, "order_items", tag, items, ITEM_COLS, malformed=False
        )
        batch.raw_rows = (
            len(products) + len(orders) + len(items) + self._raw_rows_extra
        )

        if batch_no == 1:
            self._batch1_names = {d: [n for n, _ in fs] for d, fs in per_file.items()}
            for d, names in self._batch1_names.items():
                for n in names:
                    with open(os.path.join(raw_dir, d, n), "rb") as fh:
                        self._batch1_bytes[(d, n)] = fh.read()
            for d, fs in per_file.items():
                for n, rows in fs:
                    self._batch1_rows[(d, n)] = len(rows)
        else:
            # re-drop the first batch-1 file(s) of each dataset, unchanged
            for d, names in self._batch1_names.items():
                for n in names[:1]:
                    with open(os.path.join(raw_dir, d, n), "wb") as fh:
                        fh.write(self._batch1_bytes[(d, n)])
                    batch.skipped += 1
                    batch.raw_rows += self._batch1_rows[(d, n)]

        # expected outcome, file by file in the pipeline's order
        for d in ("products", "orders", "order_items"):
            files = sorted(per_file[d], key=lambda f: f[0])
            batch.rejected[d] = 0
            for name, rows in files:
                batch.rejected[d] += self.lake.ingest(d, rows)
                batch.processed_files += 1
            batch.loaded[d] = len(self.lake.keys[d])
            for n in os.listdir(os.path.join(raw_dir, d)):
                batch.raw_bytes += os.path.getsize(os.path.join(raw_dir, d, n))
        return batch
