"""Driver-contract helpers in bench.py that don't need a SparkSession."""

from __future__ import annotations

import bench


def test_corrected_vs_prev_uses_host_norm_ratio(tmp_path, monkeypatch):
    prev = tmp_path / "BENCH_r09.json"
    prev.write_text(
        '{"sf": 0.1, "cpus": 4, "parsed": {"queries": {"a": 2.0, "b": 1.0},'
        ' "host_norm": {"kernel_docs_per_sec": 100000}}}'
    )
    monkeypatch.setattr(bench, "REPO", tmp_path)
    out = bench._corrected_vs_prev(
        {"a": 1.0, "c": 5.0}, {"kernel_docs_per_sec": 200000}, "0.1", 4
    )
    assert out["prev"] == "BENCH_r09.json"
    assert out["norm_ratio"] == 2.0
    # a: (1.0/2.0) * 2.0 = 1.0 — pure host drift reads as 1.0
    assert out["queries"] == {"a": 1.0}
    assert out["common_total_corrected_ratio"] == 1.0


def test_corrected_vs_prev_degrades_gracefully(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", tmp_path)
    assert "status" in bench._corrected_vs_prev(
        {"a": 1.0}, {"kernel_docs_per_sec": 1}, "0.1", 4
    )
    assert "status" in bench._corrected_vs_prev({"a": 1.0}, {"error": "x"}, "0.1", 4)
    bad = tmp_path / "BENCH_r01.json"
    bad.write_text('{"sf": 0.1, "cpus": 4, "parsed": {"queries": {}}}')
    out = bench._corrected_vs_prev({"a": 1.0}, {"kernel_docs_per_sec": 1}, "0.1", 4)
    assert out["status"].startswith("prior-unreadable")


def test_corrected_vs_prev_skips_priors_at_other_sf_or_cores(tmp_path, monkeypatch):
    # the lexically last prior ran at another sf, the one before it on
    # another core count: only r07 is a comparable baseline
    def write(name, sf, cpus, t):
        (tmp_path / name).write_text(
            f'{{"sf": {sf}, "cpus": {cpus}, "parsed": {{"queries": {{"a": {t}}},'
            ' "host_norm": {"kernel_docs_per_sec": 100}}}'
        )

    write("BENCH_r07.json", 0.1, 4, 2.0)
    write("BENCH_r07_control.json", 0.1, 32, 9.0)
    write("BENCH_r07_frozen.json", 1.0, 4, 9.0)
    monkeypatch.setattr(bench, "REPO", tmp_path)
    out = bench._corrected_vs_prev({"a": 1.0}, {"kernel_docs_per_sec": 100}, "0.1", 4)
    assert out["prev"] == "BENCH_r07.json"
    assert out["queries"] == {"a": 0.5}
    out = bench._corrected_vs_prev({"a": 1.0}, {"kernel_docs_per_sec": 100}, "1.0", 32)
    assert out == {"status": "no-comparable-prior"}
