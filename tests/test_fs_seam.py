"""Structural guards: the package opens Hadoop FileSystems in one place,
walks at-rest lake data only through it, and spells the hidden-name rule
once.

Every listing, rename, delete and commit marker goes through
``util.hadoop_fs``; a second ``getFileSystem(`` call site is a second seam
to keep in step (configuration, scheme handling), so it fails here. A
local-disk call (``os.listdir``, ``glob``, …) on a lake path silently sees
nothing for a URI root, so the lake modules may not make one.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import gdelt_2_0_event_database_pipeline_spark as pkg

ROOT = Path(pkg.__file__).parent

LAKE_MODULES = (
    "sources/lake.py",
    "sources/gdelt_csv.py",
    "operators/layout.py",
    "operators/skew.py",
)
#: local-disk work by design: unzipping downloads into a local staging dir
LOCAL_BY_DESIGN = {"extract_zips"}
LOCAL_FS_CALLS = (
    "os.listdir",
    "os.walk",
    "os.rename",
    "os.remove",
    "os.path.getsize",
    "os.path.isdir",
    "shutil.rmtree",
    "glob(",
)


def test_get_file_system_has_one_call_site():
    sites = sorted(
        str(p.relative_to(ROOT))
        for p in ROOT.rglob("*.py")
        if "getFileSystem(" in p.read_text(encoding="utf-8")
    )
    assert sites == ["util.py"], sites


def _source_outside(text: str, exempt: set[str]) -> str:
    lines = text.splitlines()
    for node in ast.parse(text).body:
        if isinstance(node, ast.FunctionDef) and node.name in exempt:
            lines[node.lineno - 1 : node.end_lineno] = [""] * (
                node.end_lineno - node.lineno + 1
            )
    return "\n".join(lines)


def test_lake_modules_walk_through_the_seam():
    offenders = {}
    for rel in LAKE_MODULES:
        text = _source_outside((ROOT / rel).read_text(encoding="utf-8"), LOCAL_BY_DESIGN)
        hits = [call for call in LOCAL_FS_CALLS if call in text]
        if hits:
            offenders[rel] = hits
    assert offenders == {}


def test_hidden_name_rule_has_one_definition():
    spelled = re.compile(
        r"""startswith\(\(\s*["'][_.]["']\s*,\s*["'][_.]["']\s*\)\)"""
        r"""|startswith\(\s*["']_["']\s*\)"""
    )
    sites = sorted(
        str(p.relative_to(ROOT))
        for p in ROOT.rglob("*.py")
        if spelled.search(p.read_text(encoding="utf-8"))
    )
    assert sites == ["util.py"], sites
