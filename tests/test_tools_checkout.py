"""Tools import the checkout they live in, not a fixed path."""

from __future__ import annotations

import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_tools_import_their_own_checkout(tmp_path):
    (tmp_path / "tools").mkdir()
    for f in ("diffcheck.py", "typecheck.py"):
        shutil.copy(ROOT / "tools" / f, tmp_path / "tools" / f)
    (tmp_path / "emma_spark").mkdir()
    (tmp_path / "emma_spark" / "__init__.py").write_text("")
    out = subprocess.run(
        [sys.executable, "-c",
         "import tools.diffcheck, tools.typecheck, emma_spark; "
         "print(emma_spark.__file__, tools.typecheck.__file__)"],
        cwd=tmp_path, capture_output=True, text=True, check=True,
    ).stdout.split()
    assert len(out) == 2 and all(
        Path(p).resolve().is_relative_to(tmp_path.resolve()) for p in out), out
