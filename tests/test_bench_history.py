"""bench.py's BENCH_HISTORY.md row: each column holds one unit."""

import bench


def test_stream_rows_per_s_has_its_own_column(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    for _ in range(2):  # the second row must not repeat the header
        bench._append_history(
            30.0, {"q1": 2.0, "q2": 1.0}, 0.1,
            {"ivf_quantized_sql_topk": 0.57, "ivf_quantized_sql_topk_samples": [0.5]},
            28.0, 418.6,
        )
    lines = (tmp_path / "BENCH_HISTORY.md").read_text().splitlines()
    assert lines.count(bench._HISTORY_HEADER.rstrip("\n")) == 1
    rows = [line for line in lines if line.startswith("| 20")]
    assert len(rows) == 2

    def split(line: str) -> list[str]:
        return [c.strip() for c in line.strip().strip("|").split("|")]

    cells = dict(zip(split(bench._HISTORY_HEADER), split(rows[0])))
    assert cells["sql serves (s)"] == "ivf_quantized_sql_topk 0.57"
    assert cells["stream corpus (rows/s)"] == "418.6"
