import json
import os

from kgbench import gen, layers

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path):
    with open(os.path.join(HERE, path)) as f:
        return json.load(f)


def test_benchmark_metrics_match_catalogue():
    cat = {m["name"]: m for m in _load("metrics.json")["metrics"]}
    bench = _load(os.path.join("..", "BENCHMARK.json"))
    for role in ("end_to_end", "per_layer"):
        listed = [m["name"] for m in bench[role]]
        assert listed == [n for n, m in cat.items() if m.get("role") == role]
        for m in bench[role]:
            assert (m["unit"], m["better"]) == (cat[m["name"]]["unit"], cat[m["name"]]["better"])


def test_catalogue_covers_every_layer_and_class():
    names = {m["name"] for m in _load("metrics.json")["metrics"]}
    for layer in layers.PIPELINE_LAYERS:
        assert f"{layer}.wall_ms" in names
    for cls in gen.CLASSES:
        assert f"sparql.{cls}.plan_ms" in names
