"""The GoldenGate generator is a pure function of its seed."""

import json

from gg_gen import GGGenerator, WindowMix, land

MIX = WindowMix(n_tx=60, insert_share=2 / 3, late_meta_share=0.2, split_orders=3)


def _windows(seed: int, n: int = 4):
    g = GGGenerator(seed, base_orders=40)
    return g, [g.base_window()] + [g.window(MIX) for _ in range(n)] + [g.flush()]


def test_same_seed_same_documents():
    _, a = _windows(7)
    _, b = _windows(7)
    assert [(w.cdc, w.meta) for w in a] == [(w.cdc, w.meta) for w in b]


def test_other_seed_other_documents():
    _, a = _windows(7)
    _, b = _windows(8)
    assert [w.cdc for w in a] != [w.cdc for w in b]


def test_every_transaction_completes_after_the_flush():
    g, windows = _windows(3)
    events = [json.loads(line) for w in windows for line in w.cdc]
    metas = [json.loads(line) for w in windows for line in w.meta]
    per_tx = {}
    for e in events:
        per_tx.setdefault((e["xid"], e["csn"]), []).append(e)
    assert {(m["xid"], m["csn"]) for m in metas} == set(per_tx)
    for m in metas:
        evs = per_tx[(m["xid"], m["csn"])]
        assert m["event_count"] == len(evs)
        for dc in m["data_collections"]:
            n = sum(e["table"] == f"APPUSER.{dc['data_collection']}" for e in evs)
            assert n == dc["event_count"]
    # one order_stream record per order a transaction touches
    touched = sum(len({e["after"]["ORDER_ID"] for e in evs}) for evs in per_tx.values())
    assert g.order_stream_rows == touched


def test_late_metadata_and_split_halves_carry_one_window():
    g = GGGenerator(5, base_orders=40)
    g.base_window()
    w1 = g.window(MIX)
    xids = {json.loads(line)["xid"] for line in w1.cdc}
    meta1 = {json.loads(line)["xid"] for line in w1.meta}
    assert meta1 < xids  # some metadata is late
    w2 = g.window(MIX)
    late = {json.loads(line)["xid"] for line in w2.meta} & xids
    assert late == xids - meta1


def test_expected_state_follows_bumps():
    g = GGGenerator(11, base_orders=30)
    g.base_window()
    before = g.expected_current()
    g.window(WindowMix(n_tx=30, insert_share=0.0))
    after = g.expected_current()
    bumped = [k for k in before if after[k][0] > before[k][0]]
    assert bumped and all(after[k][0] >= before[k][0] for k in before)


def test_land_writes_one_file_per_topic(tmp_path):
    _, windows = _windows(2, n=1)
    land(windows[1], tmp_path / "cdc", tmp_path / "meta", "w1")
    assert (tmp_path / "cdc" / "w1.json").read_text().splitlines() == windows[1].cdc
    assert (tmp_path / "meta" / "w1.json").read_text().splitlines() == windows[1].meta
    assert not list(tmp_path.rglob(".*"))
