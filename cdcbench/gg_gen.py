"""Seeded GoldenGate op-format generator for the CDC workloads.

Produces windows of GG documents (one JSON doc per line: CDC events for
APPUSER.ORDERS / ORDER_DETAILS / ORDER_LINE_ITEMS plus one transaction
metadata doc per transaction) and tracks the end state the chain must reach.

Window mix (``WindowMix``):

- ``insert_share`` of the transactions insert a new order (order + detail +
  2..5 line items); the rest bump a settled order: order, detail and one line
  item move to ``version + 1``, each with its before image.
- Bump targets come from the bounded key range of the base orders, so a
  window's work does not grow with the number of windows before it.
- ``late_meta_share`` of the transactions land their metadata doc one window
  late; they stay parked in the transaction buffer for one trigger.
- ``split_orders > 0`` adds one multi-order insert transaction per window
  whose events and metadata are split over this window and the next, so
  parked state carries across triggers.
- :meth:`GGGenerator.flush` lands everything still outstanding.

Everything is a pure function of the seed; the same seed gives byte-identical
files.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from pathlib import Path

STATUSES = ["PENDING", "CONFIRMED", "SHIPPED", "DELIVERED", "CANCELLED"]
DELIVERY = ["PENDING", "IN_TRANSIT", "DELIVERED", "RETURNED"]
TS = "2024-01-01 00:00:00.000000"


@dataclass(frozen=True)
class WindowMix:
    n_tx: int
    insert_share: float = 1.0
    late_meta_share: float = 0.0
    split_orders: int = 0


@dataclass
class OrderState:
    version: int = 1
    status: str = "PENDING"
    detail_version: int = 1
    items: dict[int, list] = field(default_factory=dict)  # item_no -> [version, qty]


@dataclass
class Window:
    cdc: list[str]
    meta: list[str]

    @property
    def docs(self) -> int:
        return len(self.cdc) + len(self.meta)


def _order_image(oid: int, st: OrderState) -> dict[str, str]:
    return {
        "ORDER_ID": str(oid),
        "ORDER_REF": f"ORD-{oid:07d}",
        "VERSION": str(st.version),
        "ORDER_DATE": "2024-01-01",
        "ORDER_TS": TS,
        "ORDER_STATUS": st.status,
        "ORDER_TYPE": ["STANDARD", "EXPRESS", "SUBSCRIPTION"][oid % 3],
        "TOTAL_AMOUNT": f"{sum(q for _, q in st.items.values()) * 10:.4f}",
        "CURRENCY": "USD",
        "CUSTOMER_ID": f"CUST-{oid % 97:03d}",
        "SHIPPING_ADDRESS_ID": f"ADDR-{oid % 89:03d}",
        "CREATED_TS": TS,
    }


def _detail_image(oid: int, st: OrderState) -> dict[str, str]:
    return {
        "ORDER_ID": str(oid),
        "VERSION": str(st.detail_version),
        "SHIPPING_METHOD": ["STANDARD", "EXPRESS", "OVERNIGHT", "PICKUP"][oid % 4],
        "TRACKING_NUMBER": f"TRK-{10000000 + oid}",
        "SHIPPED_TS": TS,
        "ESTIMATED_DELIVERY_DATE": "2024-01-08",
        "CARRIER": ["FEDEX", "UPS", "DHL", "USPS"][oid % 4],
        "DELIVERY_STATUS": DELIVERY[st.detail_version % len(DELIVERY)],
    }


def _item_image(oid: int, item_no: int, version: int, qty: float) -> dict[str, str]:
    price = 10.0 + item_no
    return {
        "LINE_ITEM_ID": str(oid * 10 + item_no),
        "ORDER_ID": str(oid),
        "VERSION": str(version),
        "PRODUCT_ID": f"PROD-{item_no:03d}",
        "ITEM_QTY": f"{qty:.4f}",
        "ITEM_PRICE": f"{price:.8f}",
        "ITEM_AMOUNT": f"{qty * price:.4f}",
        "ITEM_CURRENCY": "USD",
    }


class _Tx:
    """One transaction's CDC docs and its metadata doc."""

    def __init__(self, gen: "GGGenerator"):
        gen._tx_serial += 1
        n = gen._tx_serial
        self.xid = f"{gen.seed % 100000}.{n % 32}.{n // 32 % 64}.{n}"
        self.csn = str(1_000_000 + n)
        self._gen = gen
        self.events: list[str] = []
        self.counts: dict[str, int] = {}
        self.orders: set[int] = set()

    def emit(self, table: str, op: str, oid: int, after: dict, before: dict | None) -> None:
        self._gen._pos += 1
        self.events.append(json.dumps({
            "table": f"APPUSER.{table}",
            "op_type": op,
            "op_ts": TS,
            "current_ts": TS,
            "pos": f"{self._gen._pos:020d}",
            "csn": self.csn,
            "xid": self.xid,
            "before": before,
            "after": after,
        }, sort_keys=True))
        self.counts[table] = self.counts.get(table, 0) + 1
        self.orders.add(oid)

    def metadata(self) -> str:
        return json.dumps({
            "xid": self.xid,
            "csn": self.csn,
            "tx_ts": TS,
            "event_count": sum(self.counts.values()),
            "data_collections": [
                {"data_collection": t, "event_count": c}
                for t, c in sorted(self.counts.items())
            ],
        }, sort_keys=True)


class GGGenerator:
    """Stateful window generator. ``base_orders`` settled orders (ids
    1..base_orders) come from :meth:`base_window`; later windows insert new
    ids above them and bump base orders."""

    def __init__(self, seed: int, base_orders: int):
        self.seed = seed
        self.rng = random.Random(seed)
        self.base_orders = base_orders
        self.orders: dict[int, OrderState] = {}
        self._next_oid = 1
        self._pos = 0
        self._tx_serial = 0
        self._carry_cdc: list[str] = []
        self._carry_meta: list[str] = []
        self._pending: set[int] = set()  # orders with a bump not yet complete
        self._carry_pending: set[int] = set()
        self.order_stream_rows = 0  # records the SCD2 table must hold once flushed

    # ------------------------------------------------------------ transactions
    def _new_order(self, tx: _Tx) -> None:
        oid = self._next_oid
        self._next_oid += 1
        st = OrderState()
        for i in range(1, 2 + oid % 4 + 1):
            st.items[i] = [1, float(self.rng.randint(1, 40))]
        self.orders[oid] = st
        tx.emit("ORDERS", "I", oid, _order_image(oid, st), None)
        tx.emit("ORDER_DETAILS", "I", oid, _detail_image(oid, st), None)
        for i, (v, q) in sorted(st.items.items()):
            tx.emit("ORDER_LINE_ITEMS", "I", oid, _item_image(oid, i, v, q), None)

    def _bump(self, tx: _Tx, oid: int) -> None:
        st = self.orders[oid]
        before_o, before_d = _order_image(oid, st), _detail_image(oid, st)
        item_no = self.rng.choice(sorted(st.items))
        iv, iq = st.items[item_no]
        before_i = _item_image(oid, item_no, iv, iq)
        st.version += 1
        st.detail_version += 1
        st.status = STATUSES[(STATUSES.index(st.status) + 1) % len(STATUSES)]
        st.items[item_no] = [iv + 1, float(self.rng.randint(1, 40))]
        tx.emit("ORDERS", "U", oid, _order_image(oid, st), before_o)
        tx.emit("ORDER_DETAILS", "U", oid, _detail_image(oid, st), before_d)
        tx.emit("ORDER_LINE_ITEMS", "U", oid,
                _item_image(oid, item_no, *st.items[item_no]), before_i)

    # ----------------------------------------------------------------- windows
    def base_window(self) -> Window:
        """Inserts of the base orders, every transaction complete."""
        if self._next_oid != 1:
            raise RuntimeError("base_window must come before any other window")
        cdc, meta = [], []
        for _ in range(self.base_orders):
            tx = _Tx(self)
            self._new_order(tx)
            cdc += tx.events
            meta.append(tx.metadata())
            self.order_stream_rows += len(tx.orders)
        return Window(cdc, meta)

    def window(self, mix: WindowMix) -> Window:
        """Next window: last window's carried docs first, then ``mix``."""
        cdc, meta = self._carry_cdc, self._carry_meta
        self._carry_cdc, self._carry_meta = [], []
        self._pending -= self._carry_pending
        self._carry_pending = set()
        for _ in range(mix.n_tx):
            tx = _Tx(self)
            bumpable = self.base_orders - len(self._pending)
            if self.rng.random() < mix.insert_share or bumpable <= 0:
                self._new_order(tx)
            else:
                oid = self.rng.randint(1, self.base_orders)
                while oid in self._pending:
                    oid = oid % self.base_orders + 1
                self._bump(tx, oid)
                self._pending.add(oid)
            cdc += tx.events
            self.order_stream_rows += len(tx.orders)
            if self.rng.random() < mix.late_meta_share:
                self._carry_meta.append(tx.metadata())
                self._carry_pending |= tx.orders
            else:
                meta.append(tx.metadata())
                self._pending -= tx.orders
        if mix.split_orders:
            tx = _Tx(self)
            for _ in range(mix.split_orders):
                self._new_order(tx)
            half = len(tx.events) // 2
            cdc += tx.events[:half]
            self._carry_cdc += tx.events[half:]
            self._carry_meta.append(tx.metadata())
            self.order_stream_rows += len(tx.orders)
        return Window(cdc, meta)

    def flush(self) -> Window:
        """Everything still carried (late metadata, split halves)."""
        return self.window(WindowMix(n_tx=0))

    # ------------------------------------------------------------ end state
    def expected_current(self) -> dict[int, tuple]:
        """orderId -> (version, status, ((lineItemId, qty), ...)) once every
        window so far, and the flush, have been drained."""
        return {
            oid: (
                st.version,
                st.status,
                tuple(sorted((oid * 10 + i, q) for i, (_, q) in st.items.items())),
            )
            for oid, st in self.orders.items()
        }


def land(window: Window, cdc_dir: Path, meta_dir: Path, name: str) -> None:
    """Write one window as one file per topic. Files are written under a
    hidden name and renamed, so a file source never sees a partial file."""
    for d, lines in ((cdc_dir, window.cdc), (meta_dir, window.meta)):
        d.mkdir(parents=True, exist_ok=True)
        if not lines:
            continue
        tmp = d / f".{name}.tmp"
        tmp.write_text("\n".join(lines) + "\n")
        tmp.rename(d / f"{name}.json")
