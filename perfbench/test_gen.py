"""Pins the workload generator: the same seed gives byte-identical inputs
(in fresh interpreters with different hash seeds too), another seed gives
other inputs, and the planted structure the answer checks rely on holds.

    python3 -m pytest perfbench/test_gen.py -q
"""

import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


@pytest.fixture(scope="module")
def corpus():
    return gen.load_corpus()


@pytest.mark.parametrize("make", [gen.live_inputs, gen.curate_inputs])
def test_same_seed_same_bytes_other_seed_other_bytes(corpus, make):
    a = gen.fingerprint(make(5, corpus))
    assert a == gen.fingerprint(make(5, corpus))
    assert a != gen.fingerprint(make(6, corpus))


def test_fingerprint_independent_of_interpreter_hash_seed():
    code = (
        "import gen; print(gen.fingerprint(gen.live_inputs(9)), "
        "gen.fingerprint(gen.curate_inputs(9)))"
    )
    outs = {
        subprocess.run(
            [sys.executable, "-c", code],
            cwd=HERE,
            env={**os.environ, "PYTHONHASHSEED": h},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        for h in ("1", "2")
    }
    assert len(outs) == 1


def test_live_schedule_shape(corpus):
    inp = gen.live_inputs(3, corpus)
    assert len(inp.preload) == gen.LIVE_PRELOAD
    state = {a[0]: a for a in inp.preload}
    for st in inp.steps:
        assert len(st.upload) == gen.LIVE_UPLOAD and len(st.shortened) == 1
        new, re = st.upload[: gen.LIVE_NEW_PER_STEP], st.upload[gen.LIVE_NEW_PER_STEP :]
        assert all(a[0] not in state for a in new)
        assert all(a[0] in state for a in re)
        for aid in st.shortened:
            old = sum(len(s) for s in state[aid][2])
            short = next(a for a in re if a[0] == aid)
            assert sum(len(s) for s in short[2]) < old
        for a in st.upload:
            assert len(a[1]) == len(a[2]) and all(a[2])
            state[a[0]] = a
        aimed_paras = {p for sec in state[st.aimed][2] for p in sec}
        assert st.batch[-1] in aimed_paras
        assert len(st.batch) == gen.QUERY_BATCH
        assert len(st.singles) == gen.SINGLES_PER_STEP


def test_curate_plants(corpus):
    inp = gen.curate_inputs(4, corpus)
    text = {r[0]: r[1] for r in inp.rows}
    vec = {r[0]: np.asarray(r[2]) for r in inp.rows}
    assert len(text) == len(inp.rows)
    for chain in inp.chains:
        # every member links to another far above the near-duplicate threshold
        assert len(chain) == gen.CURATE_CHAIN_LEN
        sh = {d: gen.shingle_set(text[d]) for d in chain}
        for d in chain:
            assert max(len(sh[d] & sh[o]) / len(sh[d] | sh[o]) for o in chain if o != d) > 0.75
    for group in inp.groups:
        a, *rest = group
        assert all(float(vec[a] @ vec[b]) > 0.99 for b in rest)
        assert len({text[d] for d in group}) == len(group)
