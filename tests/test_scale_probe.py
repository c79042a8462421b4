"""tools/scale_probe.py's table round trip (no Spark): a subset
re-measure at a new scale factor keeps every column and row of the
existing SCALE.md table."""

import pathlib

from tools import scale_probe

SCALE_MD = pathlib.Path(__file__).resolve().parents[1] / "SCALE.md"


def test_subset_merge_keeps_the_old_columns():
    prose, header, table = SCALE_MD.read_text().partition("\n| query |")
    labels, rows = scale_probe._parse_table(table)
    assert header and labels == ["sf0.1", "sf1", "sf10"]
    assert len(rows) == table.count("\n| ") and rows["ann_ivf_topk"]["sf1"] == 1.52

    # what main() does for SCALE_QUERIES=ann_ivf_topk with one sf0.01 dir
    merged = sorted(dict.fromkeys(labels + ["sf0.01"]), key=scale_probe._by_scale)
    rows["ann_ivf_topk"]["sf0.01"] = 0.5
    text = scale_probe.render(prose + "\n", merged, rows)

    assert text.startswith(prose + "\n| query | sf0.01 | sf0.1 | sf1 | sf10 | x100 cost |\n")
    labels2, rows2 = scale_probe._parse_table(text.partition("\n| query |")[2])
    assert labels2 == ["sf0.01", "sf0.1", "sf1", "sf10"]
    old = {n: {k: v for k, v in r.items() if k != "sf0.01"} for n, r in rows2.items()}
    assert old == scale_probe._parse_table(table)[1]
    assert rows2["ann_ivf_topk"]["sf0.01"] == 0.5
    assert "sf0.01" not in rows2["ann_ivf_persisted_topk"]
