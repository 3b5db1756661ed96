"""The versioned-snapshot store every persisted structure commits
through (`coltt_spark.store`)."""

from __future__ import annotations

import pathlib
import re

import pytest

import coltt_spark
from coltt_spark import store


def test_only_the_store_module_commits():
    """No module but the store renames files into place, dumps JSON
    state or appends to a dataset in place: every persisted write
    goes through one versioned commit."""
    pkg = pathlib.Path(coltt_spark.__file__).parent
    banned = re.compile(r"os\.replace\(|json\.dump\(|\.mode\(\s*['\"]append['\"]\s*\)")
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "store.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert offenders == []


def test_version_dirs_name_drop_and_clear_leftovers(tmp_path):
    """``v{N}`` and ``v{N}_<part>`` belong to version N (and v1 is not
    v10); dirs of other names are not versions; opening version N+1
    drops everything above N."""
    for name in ("v1", "v1_blocks", "v10", "v10_ivf", "v2_postings", "shard_1", "v3x"):
        (tmp_path / name).mkdir()
    root = str(tmp_path)
    assert store.versions(root) == [1, 2, 10]
    assert store.version_dir(root, 2, "postings") == str(tmp_path / "v2_postings")
    store.drop_version(root, 1)
    assert store.versions(root) == [2, 10]
    assert store.begin(root, 2) == 3
    assert sorted(p.name for p in tmp_path.iterdir()) == ["shard_1", "v2_postings", "v3x"]


def test_version_commit_links_base_and_refuses_a_moved_store(tmp_path):
    """A delta version carries its base's parts forward by hardlink
    and drops the base after the commit; a handle whose base is no
    longer the committed version cannot commit over it."""
    root = str(tmp_path / "s")
    v = store.Version(root)
    pathlib.Path(v.path("a")).mkdir()
    (pathlib.Path(v.path("a")) / "part-0.parquet").write_bytes(b"x")
    assert v.commit({"k": 1}) == {"k": 1, "version": 0}
    delta = store.Version(root, base=0)
    assert store.read_manifest(root) == {"k": 1, "version": 0}
    assert delta.commit({"k": 2}) == {"k": 2, "version": 1}
    assert sorted(p.name for p in pathlib.Path(root).iterdir()) == ["manifest.json", "v1_a"]
    assert (pathlib.Path(root) / "v1_a" / "part-0.parquet").read_bytes() == b"x"
    with pytest.raises(RuntimeError, match="reopen"):
        store.Version(root, base=0)


def test_manifest_json_is_derived_from_the_fields():
    """``Manifest.to_json`` keeps the on-disk key order; ``from_json``
    needs the fields without a default plus the version and commit
    counters, defaults the rest and ignores unknown keys."""
    from coltt_spark.catalog import Manifest
    from coltt_spark.schema import IndexDesign, IndexField

    design = IndexDesign([IndexField("id", "string", primary_key=True)])
    m = Manifest("c", 8, "cosine", "none", design, version=3, next_commit=7, layout="ivf")
    d = m.to_json()
    assert list(d) == [
        "name", "dim", "distance", "quantization", "index_design", "version",
        "next_commit", "layout", "block_dtype", "versioning", "ivf_centroids",
        "ivf_nprobe", "ivf_kmeans_iters", "ivf_max_list_files",
        "ivf_base_list_files", "pq_subspaces", "pq_codes", "ivfpq_refine", "pq_opq",
    ]
    assert d["index_design"] == design.to_json()
    assert Manifest.from_json({**d, "unknown": 1}) == m
    required = ("name", "dim", "distance", "quantization", "index_design", "version", "next_commit")
    for key in required:
        with pytest.raises(KeyError):
            Manifest.from_json({k: v for k, v in d.items() if k != key})
    assert Manifest.from_json({k: d[k] for k in required}) == Manifest(
        "c", 8, "cosine", "none", design, version=3, next_commit=7
    )
