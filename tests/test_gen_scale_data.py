"""``tools/gen_scale_data._write_single_file``: one parquet FILE per table,
replacing whatever ``dest`` held, and a clear error when the coalesced
write emits no part file."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import gen_scale_data  # noqa: E402


class _Writer:
    """Stands in for ``df.coalesce(1).write.mode(...)``: writes ``n_parts``
    part files (and a ``_SUCCESS`` marker) into the staging directory."""

    def __init__(self, n_parts: int, payload: bytes):
        self.n_parts, self.payload = n_parts, payload

    def coalesce(self, _n):
        return self

    @property
    def write(self):
        return self

    def mode(self, _m):
        return self

    def parquet(self, path):
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, "_SUCCESS"), "w").close()
        for i in range(self.n_parts):
            with open(os.path.join(path, f"part-{i:05d}.parquet"), "wb") as fh:
                fh.write(self.payload)


def test_replaces_an_existing_file(tmp_path):
    dest = tmp_path / "t.parquet"
    dest.write_bytes(b"old")
    gen_scale_data._write_single_file(_Writer(1, b"new"), str(tmp_path), "t")
    assert dest.read_bytes() == b"new"
    assert sorted(os.listdir(tmp_path)) == ["t.parquet"]  # staging removed


def test_replaces_an_existing_directory(tmp_path):
    (tmp_path / "t.parquet").mkdir()
    (tmp_path / "t.parquet" / "part-0.parquet").write_bytes(b"old")
    gen_scale_data._write_single_file(_Writer(1, b"new"), str(tmp_path), "t")
    assert (tmp_path / "t.parquet").read_bytes() == b"new"


def test_no_part_file_raises_clearly(tmp_path):
    with pytest.raises(RuntimeError, match="expected one part file"):
        gen_scale_data._write_single_file(_Writer(0, b""), str(tmp_path), "t")
    assert os.listdir(tmp_path) == []  # staging removed, nothing published
