"""The package zip shipped to Python workers is named by its sources, so a
zip built from an older tree is never reused."""

from __future__ import annotations

import tempfile
import zipfile

from glasseenterprise_mcp_spark.functions.shipping import package_zip


def _tree(root, body: str):
    pkg = root / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "mod.py").write_text(body)
    return pkg


def test_changed_source_ships_a_new_zip(tmp_path, monkeypatch):
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    old = package_zip(str(_tree(tmp_path / "a", "X = 1\n")))
    new = package_zip(str(_tree(tmp_path / "b", "X = 2\n")))
    same = package_zip(str(_tree(tmp_path / "c", "X = 1\n")))
    assert old != new
    assert same == old
    with zipfile.ZipFile(new) as z:
        assert z.read("pkg/sub/mod.py") == b"X = 2\n"
