"""bench.py's one-line stdout contract, with its query and pipeline legs
stubbed: no subprocess, no JVM, nothing written in the checkout."""

from __future__ import annotations

import json
import os

import bench

KEYS = {"metric", "unit", "sf", "value", "queries", "pipeline", "scaling"}


def test_bench_prints_the_contract_line(monkeypatch, tmp_path, capsys):
    legs = {1: (300.0, 4068.8), 4: (90.0, 13562.6)}  # cpus -> (wall_sec, triples/sec)
    calls = []

    def fake_leg(args, cpus=None):
        calls.append((args[0], cpus))
        if args == ["--queries-only"]:
            return {name: 0.5 for name in bench.HEADLINE}
        assert args[0] == "--pipeline" and int(args[1]) == cpus
        wall, tps = legs[cpus]
        return {"cpus": cpus, "n_files": bench.N_FILES, "wall_sec": wall,
                "triples": 1220633, "triples_per_sec": tps}

    monkeypatch.setattr(bench, "_leg", fake_leg)
    monkeypatch.setattr(bench, "BASELINE_MD", str(tmp_path / "BENCH" / "BASELINE.md"))
    committed = os.path.join(bench.REPO, "BENCH", "BASELINE.md")
    before = os.stat(committed).st_mtime_ns
    bench.main()

    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out) == KEYS
    assert calls == [("--queries-only", None), ("--pipeline", 1), ("--pipeline", 4)]
    assert out["scaling"]["low"]["cpus"] == 1 and out["scaling"]["high"]["cpus"] == 4
    assert out["scaling"]["efficiency"] == round((13562.6 / 4068.8) / 4, 3)
    assert out["pipeline"] == out["scaling"]["high"]
    assert out["value"] == round(0.5 * len(bench.HEADLINE), 3)
    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    assert f"**{out['scaling']['efficiency']}**" in md
    assert os.stat(committed).st_mtime_ns == before
