"""Structural guard: the package opens Hadoop FileSystems in one place.

Every listing, rename, delete and commit marker goes through
``util.hadoop_fs``; a second ``getFileSystem(`` call site is a second seam
to keep in step (configuration, scheme handling), so it fails here.
"""

from __future__ import annotations

from pathlib import Path

import gdelt_2_0_event_database_pipeline_spark as pkg


def test_get_file_system_has_one_call_site():
    root = Path(pkg.__file__).parent
    sites = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "getFileSystem(" in p.read_text(encoding="utf-8")
    )
    assert sites == ["util.py"], sites
