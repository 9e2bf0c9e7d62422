"""dist/qalsh_spark.zip is what spark-submit ships to executors
(`--py-files dist/qalsh_spark.zip`).  It must hold exactly the tree's
qalsh_spark/**/*.py, byte for byte, or a submitted job runs stale engine
code.  Rebuild it with scripts/package.sh."""

from __future__ import annotations

import pathlib
import zipfile

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_dist_zip_matches_source_tree():
    tree = {
        p.relative_to(ROOT).as_posix(): p.read_bytes()
        for p in (ROOT / "qalsh_spark").rglob("*.py")
    }
    with zipfile.ZipFile(ROOT / "dist" / "qalsh_spark.zip") as z:
        packed = {n: z.read(n) for n in z.namelist()}
    assert sorted(packed) == sorted(tree), "rebuild with scripts/package.sh"
    stale = sorted(n for n in tree if packed[n] != tree[n])
    assert not stale, f"stale in the zip (rebuild with scripts/package.sh): {stale}"
