"""Source guard: the library neither imports pandas nor calls Spark's
pandas transports. Every Python stage takes and returns Arrow data
(``mapInArrow``, Arrow UDFs and ``applyInArrow``); a pandas import or a
pandas-form call would bring back a second boundary format."""

import ast
import pathlib

import filterz_spark

PKG = pathlib.Path(filterz_spark.__file__).parent
PANDAS_CALLS = {"applyInPandas", "mapInPandas", "pandas_udf", "toPandas"}


def pandas_uses(source: str) -> list[int]:
    """Line numbers of ``import pandas[...]``, ``from pandas[...] import``
    and of any ``.applyInPandas``/``.mapInPandas``/``.pandas_udf``/
    ``.toPandas`` attribute."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names = [node.module or ""]
        elif isinstance(node, ast.Attribute) and node.attr in PANDAS_CALLS:
            lines.append(node.lineno)
            continue
        else:
            continue
        if any(n == "pandas" or n.startswith("pandas.") for n in names):
            lines.append(node.lineno)
    return lines


def test_guard_sees_every_form():
    src = ("import numpy\nimport pandas\nimport pandas.api.types as t\n"
           "from pandas import DataFrame\ndef f():\n    import pandas as pd\n"
           "from pyspark.sql.pandas.types import to_arrow_schema\n"
           "g.applyInPandas(f, s)\ng.applyInArrow(f, s)\n")
    assert sorted(pandas_uses(src)) == [2, 3, 4, 6, 8]


def test_library_does_not_use_pandas():
    found = {str(p.relative_to(PKG)): lines for p in sorted(PKG.rglob("*.py"))
             if (lines := pandas_uses(p.read_text()))}
    assert found == {}
