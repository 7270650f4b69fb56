"""Registry manifest pin: name order, query function, oracle and scale
class of every entry, hashed into one digest.

Any reorder, rename, re-pointed query or oracle, or scale-class change
moves the digest, so such a change must update ``MANIFEST_SHA256`` here
in the same commit, which makes it explicit in the diff. No SparkSession
needed.
"""

from __future__ import annotations

import hashlib

from data_pipeline_capstone_project_spark.registry import (
    ORACLES,
    QUERIES,
    SCALE_CLASSES,
)

MANIFEST_SHA256 = (
    "425bad1ad9c3380134f4a3b5a993775bf7a13dee806db613ffdd3ad20f9467c1"
)


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _ref(obj) -> str:
    return f"{obj.__module__}:{obj.__qualname__}"


def manifest() -> str:
    """One tab-separated line per entry, in ``QUERIES`` order: name,
    query function, oracle (SHA-256 of the SQL, or the callable that
    builds it), scale class."""
    lines = []
    for name, fn in QUERIES.items():
        oracle = ORACLES[name]
        oracle_ref = _sha256(oracle) if isinstance(oracle, str) else _ref(oracle)
        lines.append(f"{name}\t{_ref(fn)}\t{oracle_ref}\t{SCALE_CLASSES[name]}")
    return "\n".join(lines)


def test_registry_has_205_unique_names():
    assert len(QUERIES) == 205
    assert len(set(QUERIES)) == 205


def test_every_entry_has_an_oracle_and_a_scale_class():
    assert set(ORACLES) == set(QUERIES) == set(SCALE_CLASSES)


def test_manifest_digest_is_pinned():
    assert _sha256(manifest()) == MANIFEST_SHA256, (
        "registry manifest changed; if intended, update MANIFEST_SHA256"
    )
