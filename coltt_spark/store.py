"""Versioned snapshots: the one crash-safe persistence discipline of
every store (``Collection``, ``MinHashIndex``, ``TextIndex``).

A store is a directory ``root`` of immutable version dirs —
``v{N}`` and ``v{N}_<part>`` — plus one ``manifest.json`` that names
the committed version and carries the store's properties. A change
is written as version N+1 (its new parts, then version N's unchanged
parts hardlinked beside them) and committed by ONE atomic rename of
the manifest: the reference's version-then-``.meta.json`` swap
(``edge/edge_helper.go:85-117``). Nothing written before the rename
is visible, so a write that fails part-way leaves the store at
version N; whatever it left above N is dropped before the next write
reuses the number. Hardlinks make carrying the unchanged bulk forward
a metadata-only operation (the local-FS realization of a table-format
manifest pointing at unchanged base files).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Any

MANIFEST = "manifest.json"

_VERSION_DIR = re.compile(r"v(\d+)(?:_(.+))?")


def read_manifest(root: str) -> dict[str, Any] | None:
    """The committed manifest of the store at ``root``, or None when
    nothing was ever committed there."""
    try:
        with open(os.path.join(root, MANIFEST)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def commit(root: str, manifest: dict[str, Any]) -> None:
    """Atomically replace the manifest: readers see the old one or the
    new one, never a torn file."""
    tmp = os.path.join(root, MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=2)
    os.replace(tmp, os.path.join(root, MANIFEST))


def version_dir(root: str, version: int, part: str = "") -> str:
    """Version ``version``'s dir for ``part``: ``root/v{N}`` for the
    unnamed part, ``root/v{N}_<part>`` otherwise."""
    return os.path.join(root, f"v{version}_{part}" if part else f"v{version}")


def _version_dirs(root: str) -> list[tuple[str, int, str]]:
    """``(path, version, part)`` of every version dir under ``root``."""
    out = []
    for name in os.listdir(root):
        m = _VERSION_DIR.fullmatch(name)
        if m and os.path.isdir(os.path.join(root, name)):
            out.append((os.path.join(root, name), int(m.group(1)), m.group(2) or ""))
    return out


def versions(root: str) -> list[int]:
    """Every version with a dir under ``root``, ascending."""
    return sorted({v for _, v, _ in _version_dirs(root)})


def drop_version(root: str, version: int) -> None:
    """Remove every dir of version ``version``. Files hardlinked into
    a later version live on there."""
    for path, v, _ in _version_dirs(root):
        if v == version:
            shutil.rmtree(path)


def begin(root: str, committed: int) -> int:
    """Open version ``committed + 1`` for writing. The manifest never
    names a version above its own, so any dir above ``committed`` is a
    failed write's leftover; it is dropped first, since reusing it
    would serve that write's files."""
    for v in versions(root):
        if v > committed:
            drop_version(root, v)
    return committed + 1


def link_tree(src: str, dst: str) -> None:
    """Reference every Parquet part file under ``src`` from ``dst`` by
    hardlink, replicating any ``key=value`` partition dirs. The files
    are immutable once written; a copy stands in across filesystems."""
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            link_tree(s, d)
        elif name.startswith("part-") and name.endswith(".parquet") and not os.path.exists(d):
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


class Version:
    """The next version of the store at ``root``, open for writing:
    write each part under :meth:`path`, then :meth:`commit`.

    With ``base`` (the handle's version) the change is a delta: at
    commit every part of ``base`` is hardlinked beside the new files
    of the same name, and a store that has moved past ``base`` since
    the handle opened fails loudly instead of losing that write.
    Without it the new version replaces the store's content."""

    def __init__(self, root: str, base: int | None = None):
        os.makedirs(root, exist_ok=True)
        cur = read_manifest(root)
        self.root = root
        self.prior = None if cur is None else cur["version"]
        if base is not None and base != self.prior:
            raise RuntimeError(
                f"store at {root} is at version {self.prior}, not {base}; reopen it"
            )
        self.base = base
        self.number = begin(root, -1 if self.prior is None else self.prior)

    def path(self, part: str) -> str:
        return version_dir(self.root, self.number, part)

    def commit(self, manifest: dict[str, Any]) -> dict[str, Any]:
        """Link the base's parts forward, repoint the manifest at this
        version (with ``manifest``'s properties), drop the prior
        version unless the store keeps ``versioning`` (a manifest
        property: prior versions stay readable until dropped); returns
        the committed manifest."""
        for path, v, part in _version_dirs(self.root):
            if v == self.base:
                link_tree(path, self.path(part))
        manifest = {**manifest, "version": self.number}
        commit(self.root, manifest)
        if self.prior is not None and not manifest.get("versioning", False):
            drop_version(self.root, self.prior)
        return manifest
