"""scripts/sweep.py's ``digest`` hashes a frame slice by slice; the
result must equal the one-shot digest (perfbench caches oracle
digests computed by the same function)."""

import importlib.util
from pathlib import Path

import numpy as np
import pandas as pd

SWEEP = Path(__file__).resolve().parent.parent / "scripts" / "sweep.py"


def _sweep():
    spec = importlib.util.spec_from_file_location("_script_sweep", SWEEP)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_sliced_digest_equals_one_shot(monkeypatch):
    sweep = _sweep()
    rng = np.random.default_rng(5)
    n = 2_500
    df = pd.DataFrame(
        {
            "b": rng.integers(-(1 << 62), 1 << 62, n),
            "a": rng.normal(size=n),
            "c": [None if i % 7 == 0 else f"s{i}" for i in range(n)],
        }
    )
    one_shot = sweep.digest(df)
    monkeypatch.setattr(sweep, "DIGEST_SLICE_ROWS", 1_000)
    sliced = sweep.digest(df)
    assert sliced == one_shot
    assert sliced[0] == n
    # a row permutation is the same multiset
    assert sweep.digest(df.sample(frac=1.0, random_state=1)) == one_shot
    assert sweep.digest(df.iloc[:0]) == (0, 0)
