from __future__ import annotations

import filecmp
import os

import pyarrow.parquet as pq
import pytest

from inputs import DATA_DIR, make_inputs, row_count


def test_copies_base_bytes(tmp_path):
    out = make_inputs("sf0.01", str(tmp_path / "s"))
    for f in ("documents.parquet", "embeddings.parquet"):
        assert filecmp.cmp(os.path.join(out, f), os.path.join(DATA_DIR, "sf0.01", f),
                           shallow=False)
    base = pq.read_table(os.path.join(DATA_DIR, "sf0.01", "documents.parquet"))
    assert row_count(out) == base.num_rows == 500


def test_unknown_scale_rejected(tmp_path):
    with pytest.raises(FileNotFoundError):
        make_inputs("sf42", str(tmp_path))
