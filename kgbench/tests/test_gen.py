import random

from kgbench import gen

CONSTANTS = {
    "modules": [f"<urn:entity:module:mod{i}>" for i in range(50)],
    "files": [f"<urn:file:r/f{i}.py>" for i in range(80)],
    "graphs": [f"<urn:graph:r{i}>" for i in range(12)],
    "canonical": [f"<urn:entity:class:Class{i}>" for i in range(20)],
}


def _pool_and_order(seed):
    rng = random.Random(seed)
    pool = gen.query_pool(rng, CONSTANTS)
    return pool, gen.schedule(rng, pool, 200)


def test_same_seed_same_queries_and_order():
    assert _pool_and_order(7) == _pool_and_order(7)
    assert _pool_and_order(7) != _pool_and_order(8)


def test_pool_holds_distinct_constants_per_class():
    pool, order = _pool_and_order(3)
    for cls in gen.CLASSES:
        consts = [c for k, c, _ in pool if k == cls]
        assert len(consts) == len(set(consts)) == gen.POOL_SIZE[cls]
    # every 20-slot block of the schedule keeps the class shares
    block = [pool[i][0] for i in order[:20]]
    assert {cls: block.count(cls) for cls in gen.CLASSES} == gen.SHARES


def test_nquads_deterministic_with_injected_malformed_lines():
    good, lines = gen.nquads(random.Random(5), 300, 7)
    assert (good, lines) == gen.nquads(random.Random(5), 300, 7)
    assert len(set(good)) == 300 and len(lines) == 307
    assert sum(1 for line in lines if line not in good) == 7
    assert gen.nquads(random.Random(6), 300, 7)[1] != lines


def test_update_ops_deterministic():
    good, _ = gen.nquads(random.Random(1), 200, 0)
    ops = gen.update_ops(random.Random(2), 4, good)
    assert ops == gen.update_ops(random.Random(2), 4, good)
    assert len({op["update"] for op in ops}) == 4


def test_class_heads_one_per_class():
    pool, _ = _pool_and_order(4)
    heads = gen.class_heads(pool)
    assert [pool[i][0] for i in heads] == list(gen.CLASSES)
