"""Every source file compiles with compile-time warnings as errors.

An invalid escape in a non-raw string (``'\\p'`` in a regex) is only a
warning today (DeprecationWarning, SyntaxWarning since Python 3.12); a
Python that makes it an error would fail to import the module, so this
compiles ``__spark_entry__.py`` and every ``grape_vector_db_spark``
module with both warnings turned into errors.
"""

from __future__ import annotations

import glob
import os
import warnings

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = [os.path.join(ROOT, "__spark_entry__.py")] + sorted(
    glob.glob(os.path.join(ROOT, "grape_vector_db_spark", "**", "*.py"), recursive=True)
)


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: os.path.relpath(p, ROOT))
def test_compiles_with_warnings_as_errors(path):
    with open(path, encoding="utf-8") as f:
        src = f.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error", SyntaxWarning)
        warnings.simplefilter("error", DeprecationWarning)
        compile(src, path, "exec")
