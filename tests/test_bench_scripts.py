"""Import behaviour of the ``bench/`` scripts, checked in a fresh interpreter."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_layer_cpu_keeps_an_engine_put_first_on_sys_path(tmp_path):
    # an A/B script puts another checkout's imtag_spark first, then imports
    # layer_cpu: that checkout must still be the one that resolves
    stub = tmp_path / "engine"
    (stub / "imtag_spark").mkdir(parents=True)
    (stub / "imtag_spark" / "__init__.py").write_text("")
    code = (
        "import sys\n"
        f"sys.path.insert(0, {str(stub)!r})\n"
        f"sys.path.insert(0, {str(REPO / 'bench')!r})\n"
        "import layer_cpu\n"
        "import imtag_spark\n"
        "print(imtag_spark.__file__)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=tmp_path, check=True
    )
    assert Path(out.stdout.strip()).is_relative_to(stub), out.stdout
