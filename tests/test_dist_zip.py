"""The committed spark-submit artifact must match the source tree.

ADVICE r4: the zip went stale mid-round once — a cluster run via
jobs/crawl_job.py would have silently shipped the previous round's
engine. This check makes staleness a test failure: every zip member
must be a package ``.py`` file whose bytes equal the source file's, and
every source file must be in the zip. Fix is ``scripts/package.sh``.
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP = os.path.join(REPO, "dist", "podcast_plow_spark.zip")


def _tree_files() -> dict[str, bytes]:
    out = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, "podcast_plow_spark")):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                rel = os.path.relpath(p, REPO)
                out[rel] = open(p, "rb").read()
    return out


def test_zip_matches_source_tree():
    assert os.path.exists(ZIP), "dist/podcast_plow_spark.zip missing — run scripts/package.sh"
    tree = _tree_files()
    with zipfile.ZipFile(ZIP) as z:
        zipped = {n: z.read(n) for n in z.namelist()}
    missing = sorted(set(tree) - set(zipped))
    extra = sorted(set(zipped) - set(tree))
    assert not missing and not extra, (
        f"zip out of sync (missing={missing[:5]}, extra={extra[:5]}) — run scripts/package.sh"
    )
    stale = sorted(rel for rel in tree if tree[rel] != zipped[rel])
    assert not stale, f"stale zip members {stale[:10]} — run scripts/package.sh"
