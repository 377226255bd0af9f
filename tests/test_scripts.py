"""The maintenance tools under scripts/ are run by hand or at round
close, and most have no test of their own: byte-compiling each one
catches syntax rot before the next round close does."""

from __future__ import annotations

import glob
import os
import py_compile

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def test_every_script_byte_compiles(tmp_path):
    paths = sorted(glob.glob(os.path.join(SCRIPTS, "*.py")))
    assert paths
    for path in paths:
        py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)
