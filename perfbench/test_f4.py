"""Tests of the F4 generator: ``python3 -m pytest perfbench/test_f4.py``."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import f4  # noqa: E402

DIRTY = {"null_rate": 0.05, "noise_rate": 0.003, "ragged_rate": 0.01}


def _write(tmp_path, name, seed, **knobs):
    return f4.write_f4(str(tmp_path / name), 3000, seed, **knobs)


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _write(tmp_path, "a.tsv", 7, **DIRTY)
    b = _write(tmp_path, "b.tsv", 7, **DIRTY)
    with open(a.path, "rb") as fa, open(b.path, "rb") as fb:
        assert fa.read() == fb.read()
    c = _write(tmp_path, "c.tsv", 8, **DIRTY)
    with open(a.path, "rb") as fa, open(c.path, "rb") as fc:
        assert fa.read() != fc.read()


def test_recorded_counts_match_a_recount(tmp_path):
    src = _write(tmp_path, "d.tsv", 3, **DIRTY)
    with open(src.path + ".truth.json") as fh:
        recorded = json.load(fh)
    recounted = f4.recount(src.path)
    assert recorded["columns"] == f4.COLUMNS
    for key in ("rows", "bytes", "nulls", "noise", "ragged"):
        assert recorded[key] == getattr(recounted, key), key
    assert recorded["ragged"] > 0 and sum(recorded["noise"]) > 0


def test_clean_file_follows_the_f4_formulas(tmp_path):
    src = _write(tmp_path, "e.tsv", 5)
    truth = f4.recount(src.path)
    assert truth.rows == 3000
    assert sum(truth.nulls) == sum(truth.noise) == truth.ragged == 0
    with open(src.path) as fh:
        lines = [line.rstrip("\n").split("\t") for line in fh]
    assert lines[0] == f4.COLUMNS
    assert all(cells == f4.f4_values(int(cells[1])) for cells in lines[1:])
    assert [int(cells[1]) for cells in lines[1:]] == src.int32
