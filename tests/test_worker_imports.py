"""A Python worker that unpickles a hash or MinHash kernel imports the
kernel's module, not the 5k-line ``functions.ch_compat``: the hash
kernel (``hash_np``) and the five hash model modules it imports for a
non-numeric argument, and the dedup operators.

``baseline_magician_spark.functions`` is a docstring-only package, so
importing one of its modules loads no sibling. Each check runs in a
fresh interpreter, as a newly started worker does.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "module",
    [
        "baseline_magician_spark.functions.hash_np",
        "baseline_magician_spark.functions.cityhash",
        "baseline_magician_spark.functions.xxhash",
        "baseline_magician_spark.functions.murmur",
        "baseline_magician_spark.functions.siphash",
        "baseline_magician_spark.functions.murmur3_128",
        "baseline_magician_spark.operators.dedup",
    ],
)
def test_kernel_module_does_not_load_ch_compat(module):
    code = (
        "import sys\n"
        f"import {module}\n"
        "print('baseline_magician_spark.functions.ch_compat' "
        "in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO_DIR,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False", out.stdout + out.stderr
