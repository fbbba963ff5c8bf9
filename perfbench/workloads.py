"""Seeded benchmark inputs and their pins.

Each workload turns a seed into a docs_raw pandas frame with the
RAW_SCHEMA columns.  The generators live in program code
(``sources.fixtures``), so the benchmark pins what they produce: for a
set of seeds, ``pins.json`` records the doc count, total content bytes
and a sha256 over every row.  A run whose input does not match its pin
is refused before anything is timed.  Seeds outside the pinned range are
checked through a canary: the pinned seed ``seed % PINNED_SEEDS`` is
regenerated and compared, which catches any edit to the generators.

Regenerate the pins (only when a workload is changed on purpose):

    python3 perfbench/workloads.py --write-pins
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
from typing import Dict, List

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")
PINNED_SEEDS = 100
# sources.fixtures seeds numpy with seed * 1_000_003 + row, which must stay
# below 2**32, so a benchmark seed is folded into [0, FIXTURE_SEEDS)
FIXTURE_SEEDS = 4096

WORKLOADS = ("mixed_formats", "whale_skew", "stream_ingest")

MIXED_DOCS = 1000        # 46 families over 26 formats, no whales
WHALE_SMALL_DOCS = 400   # plain_single_header CSVs
WHALE_COUNT = 8          # planted 2000x20 fam_whale CSVs
STREAM_DOCS_PER_FILE = 8
STREAM_FILES = 96        # 12 micro-batches of 8 files per drain

HINT_COLS = (
    "header_start_row", "header_end_row", "data_start_row",
    "data_end_row", "sheet_idx",
)


def _mixed(seed: int, n: int) -> pd.DataFrame:
    from machine_readability_checker_spark.sources.fixtures import gen_corpus

    return gen_corpus(n, seed, whale_every=None)


def _whales(seed: int) -> pd.DataFrame:
    from machine_readability_checker_spark.sources.fixtures import (
        fam_whale,
        gen_corpus,
    )

    small = gen_corpus(
        WHALE_SMALL_DOCS, seed, whale_every=None,
        families=["plain_single_header"],
    )
    whales = []
    for i in range(WHALE_COUNT):
        rng = np.random.RandomState([seed, 0x5EED, i])
        d = fam_whale(rng, i)
        d["doc_id"] = "planted_" + d["doc_id"]
        d["sheet_idx"] = 0
        whales.append(d)
    return pd.concat([small, pd.DataFrame(whales)], ignore_index=True)


def generate(workload: str, seed: int) -> pd.DataFrame:
    """The workload's docs_raw rows for ``seed``.

    The stdlib ``random`` module is seeded too: fixture eml messages get
    their MIME boundary from it (``email.generator``), so without this
    the same seed would give different bytes in every process."""
    seed %= FIXTURE_SEEDS
    random.seed(seed)
    if workload == "mixed_formats":
        df = _mixed(seed, MIXED_DOCS)
    elif workload == "whale_skew":
        df = _whales(seed)
    elif workload == "stream_ingest":
        df = _mixed(seed, STREAM_DOCS_PER_FILE * STREAM_FILES)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    for c in HINT_COLS:
        df[c] = df[c].fillna(0).astype("int32")
    df["n_bytes"] = df["n_bytes"].astype("int64")
    return df


def format_probe(seed: int) -> pd.DataFrame:
    """Two docs of each of the 46 mixed families (all 26 formats): the
    first rows of the pinned mixed_formats input, since the fixture
    generator is keyed by row index."""
    seed %= FIXTURE_SEEDS
    random.seed(seed)
    return _mixed(seed, 92)


def sample(df: pd.DataFrame, seed: int, size: int = 48) -> pd.DataFrame:
    """Seeded sample for the oracle check and the core timings: the two
    largest docs, up to two docs of each format, then random docs up to
    ``size``."""
    rng = np.random.RandomState(seed & 0xFFFFFFFF)
    picks = list(df["n_bytes"].nlargest(2).index)
    for idx in df.groupby("fmt").groups.values():
        picks += [i for i in rng.permutation(list(idx))[:2] if i not in picks]
    chosen = set(picks)
    rest = [i for i in rng.permutation(df.index) if i not in chosen]
    picks += rest[:max(0, size - len(picks))]
    return df.loc[sorted(picks)]


def fingerprint(df: pd.DataFrame) -> Dict[str, object]:
    """Doc count, total content bytes and sha256 over every row."""
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        meta = [row.doc_id, row.fmt, row.n_bytes] + [
            getattr(row, c) for c in HINT_COLS
        ]
        h.update("\0".join(str(v) for v in meta).encode("utf-8") + b"\0")
        h.update(bytes(row.content))
    return {
        "docs": int(len(df)),
        "bytes": int(df["n_bytes"].sum()),
        "sha256": h.hexdigest(),
    }


def load_pins() -> Dict[str, Dict[str, Dict[str, object]]]:
    with open(PINS_PATH) as f:
        return json.load(f)


def verify(workload: str, seed: int, df: pd.DataFrame) -> List[str]:
    """Return the mismatches between ``df`` (and, for an unpinned seed,
    the canary seed's input) and the pins; empty when all match."""
    pins = load_pins().get(workload, {})
    errors = []
    if str(seed) in pins:
        checks = [(seed, df)]
    else:
        canary = seed % PINNED_SEEDS
        checks = [(canary, generate(workload, canary))]
    for s, frame in checks:
        want = pins.get(str(s))
        got = fingerprint(frame)
        if want != got:
            errors.append(
                f"{workload} seed {s}: input {got} differs from pin {want}"
            )
    return errors


def write_pins() -> None:
    pins = {
        w: {str(s): fingerprint(generate(w, s)) for s in range(PINNED_SEEDS)}
        for w in WORKLOADS
    }
    with open(PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    if sys.argv[1:] != ["--write-pins"]:
        sys.exit("usage: python3 perfbench/workloads.py --write-pins")
    write_pins()
