"""Second closing review pass over streaming/pipeline.py: the params
sidecar guard.  The stream-driver tests of that pass (batch-id namespacing,
the Bloom staged marker, the IVF/IVF-PQ dimension checks) live in
``tests/test_index_streams.py``."""

from __future__ import annotations

import os

import pytest

from kafka_connect_tablestore_spark.streaming.pipeline import _ensure_index_params


def test_ensure_index_params_freezes_then_rejects(tmp_path):
    idx = str(tmp_path / "idx")
    _ensure_index_params(idx, {"bands": 4, "n_hashes": 8})
    # same params: fine (restart of the same stream)
    _ensure_index_params(idx, {"n_hashes": 8, "bands": 4})
    with pytest.raises(ValueError, match="built with parameters"):
        _ensure_index_params(idx, {"n_hashes": 8, "bands": 8})
    # sidecar is durable, tmp cleaned up
    assert os.path.exists(idx + ".params.json")
    assert not os.path.exists(idx + ".params.json.tmp")
