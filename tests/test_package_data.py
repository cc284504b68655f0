"""Every file under bib_dedupe_spark/data/ ships in wheels: each matches a
package-data glob in pyproject.toml (read with tomllib, nothing built)."""
import tomllib
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "bib_dedupe_spark"


def test_package_data_globs_cover_the_data_dir():
    conf = tomllib.loads((ROOT / "pyproject.toml").read_text(encoding="utf-8"))
    globs = conf["tool"]["setuptools"]["package-data"]["bib_dedupe_spark"]
    shipped = {p for g in globs for p in PKG.glob(g)}
    data = {p for p in (PKG / "data").rglob("*") if p.is_file()}
    assert data, "no package data found"
    assert not data - shipped, sorted(p.name for p in data - shipped)
