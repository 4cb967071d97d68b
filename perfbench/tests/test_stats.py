import os

import pytest

from stats import percentile, tree_rss_bytes


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile(xs, 0.5) == 1


def test_percentile_never_interpolates():
    assert percentile([10, 20, 30, 40], 50) == 20
    assert percentile([40, 10, 30, 20], 75) == 30
    assert percentile([7], 99) == 7


def test_percentile_rejects_empty_and_bad_rank():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 0)
    with pytest.raises(ValueError):
        percentile([1], 101)


def test_tree_rss_counts_this_process():
    assert sum(tree_rss_bytes(os.getpid()).values()) > 1 << 20


def test_tree_rss_skips_children_sharing_their_parents_pages(monkeypatch):
    import stats

    fork = stats._PF_FORKNOEXEC
    table = {
        # pid: (comm, ppid, flags, rss pages)
        10: ("python3", 1, 0, 100),  # this process
        11: ("java", 10, 0, 5000),  # JVM
        12: ("java", 11, fork, 5002),  # vfork child of a JVM task thread, not yet exec'd
        13: ("python3", 11, 0, 300),  # worker daemon, exec'd
        14: ("python3", 13, fork, 250),  # forked worker with its own pages
        15: ("python3", 13, fork, 301),  # worker forked a moment ago
        20: ("python3", 1, 0, 7000),  # not in the tree
    }
    files = {
        f"/proc/{p}/stat": f"{p} ({c}) S {pp} 0 0 0 0 {fl} " + " ".join(["0"] * 14) + f" {r} 0"
        for p, (c, pp, fl, r) in table.items()
    }

    class _F:
        def __init__(self, path):
            self.text = files[path]

        def __enter__(self):
            return self

        def __exit__(self, *a):
            pass

        def read(self):
            return self.text

    monkeypatch.setattr(stats.os, "listdir", lambda _: [str(p) for p in table] + ["self"])
    monkeypatch.setattr("builtins.open", lambda path, *a, **k: _F(path))
    assert stats.tree_rss_bytes(10) == {
        "python3": (100 + 300 + 250) * stats._PAGE, "java": 5000 * stats._PAGE
    }
