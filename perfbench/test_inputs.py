"""One seed gives byte-identical inputs; another seed gives different ones.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            path = os.path.join(dirpath, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_identical_files(tmp_path):
    for name in ("a", "b", "c"):
        os.makedirs(tmp_path / name)
    inputs.write_all(7, str(tmp_path / "a"))
    inputs.write_all(7, str(tmp_path / "b"))
    inputs.write_all(8, str(tmp_path / "c"))
    a, b, c = (_digests(str(tmp_path / n)) for n in ("a", "b", "c"))
    assert len(a) == 14 and a == b
    assert all(a[k] != c[k] for k in a if k not in ("lake/region.parquet", "lake/nation.parquet"))


def test_hour_replays_are_previous_hour_rows():
    top = inputs.top100_of(inputs.holder_snapshot(3))
    batch, n_fresh = inputs.hour_batch(3, 5, top)
    prev, _ = inputs.hour_batch(3, 4, top)
    replays = set(batch.column("tx_hash").to_pylist()[n_fresh:])
    assert len(replays) == inputs.n_replays()
    assert replays <= set(prev.column("tx_hash").to_pylist()[:n_fresh])
