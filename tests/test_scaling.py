"""`scripts/bench_scaling.py`, the N→4N scaling protocol: level
derivation, verdicts, ABBA order, the correctness exit and the CPU pin.
``abba.run_once`` and the affinity calls are mocked: no Spark session and
no subprocess is started."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def scaling():
    path = os.path.join(REPO, "scripts", "bench_scaling.py")
    spec = importlib.util.spec_from_file_location("bench_scaling", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("n_cpus,want", [(4, (1, 4)), (16, (4, 16)), (7, (1, 4)),
                                         (32, (8, 32))])
def test_levels(scaling, n_cpus, want):
    assert scaling.levels(n_cpus) == want


@pytest.mark.parametrize("n_cpus", [1, 2, 3])
def test_levels_refuse_fewer_than_four_cpus(scaling, n_cpus):
    with pytest.raises(SystemExit, match="at least 4 CPUs"):
        scaling.levels(n_cpus)


@pytest.mark.parametrize("effs,want", [
    ([0.80, 0.82, 0.85, 0.90, 0.81], "MET"),
    ([0.61, 0.62, 0.58, 0.79, 0.65], "NOT MET"),
    ([0.70, 0.75, 0.78, 0.82, 0.86, 0.90], "UNRESOLVED"),
])
def test_verdict(scaling, effs, want):
    assert scaling.verdict(effs) == want


class FakeHost:
    """Four CPUs; ``run_once`` reads the affinity its child would inherit."""

    def __init__(self, incorrect_at: int | None = None):
        self.affinity = {0, 1, 2, 3}
        self.sets: list[set[int]] = []
        self.runs: list[tuple[str, int, int]] = []
        self.incorrect_at = incorrect_at

    def getaffinity(self, pid):
        return set(self.affinity)

    def setaffinity(self, pid, cpus):
        self.affinity = set(cpus)
        self.sets.append(set(cpus))

    def run_once(self, checkout, workload, seed, seconds):
        cpus = len(self.affinity)
        self.runs.append((workload, seed, cpus))
        docs = {1: 100.0, 4: 340.0}[cpus]  # efficiency 0.85
        return {"correct": len(self.runs) != self.incorrect_at,
                "attempted": int(docs * seconds), "failed": 0,
                "metrics": {"docs_per_s": {"value": docs, "unit": "1/s"},
                            "cpu_us_per_doc": {"value": 250.0 * cpus, "unit": "us"}}}


@pytest.fixture
def host(scaling, monkeypatch, tmp_path):
    fake = FakeHost()
    monkeypatch.setattr(scaling.os, "sched_getaffinity", fake.getaffinity)
    monkeypatch.setattr(scaling.os, "sched_setaffinity", fake.setaffinity)
    monkeypatch.setattr(scaling.abba, "run_once", fake.run_once)
    monkeypatch.setattr(scaling, "LOG", str(tmp_path / "scaling" / "runs.jsonl"))
    return fake


def test_abba_order_and_seeds(scaling, host, capsys):
    assert scaling.main() == 0
    n = scaling.abba.MIN_PAIRS
    first = [r for r in host.runs if r[0] == host.runs[0][0]]
    assert len(first) == 2 * n
    assert [r[2] for r in first[:4]] == [1, 4, 4, 1]
    for i in range(n):
        pair = first[2 * i:2 * i + 2]
        assert [r[1] for r in pair] == [1000 + i] * 2
        assert [r[2] for r in pair] == ([1, 4] if i % 2 == 0 else [4, 1])
    out = capsys.readouterr().out
    assert out.count("efficiency 0.850 [0.850, 0.850] over 10 pairs: MET") == 2


def test_affinity_restored_after_every_run(scaling, host):
    assert scaling.main() == 0
    assert len(host.sets) == 2 * len(host.runs)
    assert host.sets[0::2] == [set(range(r[2])) for r in host.runs]
    assert host.sets[1::2] == [{0, 1, 2, 3}] * len(host.runs)
    assert host.affinity == {0, 1, 2, 3}


def test_incorrect_run_exits_nonzero(scaling, host):
    host.incorrect_at = 3
    assert scaling.main() != 0
    assert len(host.runs) == 3
    assert host.affinity == {0, 1, 2, 3}


def test_raising_run_restores_affinity(scaling, host, monkeypatch):
    def boom(*args):
        raise RuntimeError("perfbench exit 1")

    monkeypatch.setattr(scaling.abba, "run_once", boom)
    with pytest.raises(RuntimeError):
        scaling.main()
    assert host.affinity == {0, 1, 2, 3}
