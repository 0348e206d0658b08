"""queries/common.py:session_memo — the one cache of the query layer,
and the source invariants that keep it the only one."""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path

import dbt_economic_indicators_eu_spark
from dbt_economic_indicators_eu_spark.queries.common import session_memo, session_scratch

PKG = Path(dbt_economic_indicators_eu_spark.__file__).parent


def test_session_memo_per_session_and_scratch_rebuilt(spark):
    """A second call returns the same object; a newSession() sibling
    (same application) gets its own entry; a scratch directory removed
    by hand is rebuilt and refilled on the next call."""
    first = session_memo(spark, ("memo_test",), object)
    assert session_memo(spark, ("memo_test",), object) is first
    sibling = spark.newSession()
    other = session_memo(sibling, ("memo_test",), object)
    assert other is not first
    assert session_memo(sibling, ("memo_test",), object) is other

    filled: list[str] = []
    d = session_scratch(spark, ("memo_test",), filled.append)
    assert os.path.basename(d).startswith("memo_test_")
    assert session_scratch(spark, ("memo_test",), filled.append) == d
    assert filled == [d]
    shutil.rmtree(d)
    rebuilt = session_scratch(spark, ("memo_test",), filled.append)
    assert os.path.isdir(rebuilt) and filled == [d, rebuilt]


def test_one_session_key_and_one_exit_sweep():
    """The session key is spelt once (``queries/common.py``), and the
    query and streaming layers hold one exit sweep between them."""
    sources = {p: p.read_text() for p in PKG.rglob("*.py")}
    keyed = sorted(
        str(p.relative_to(PKG)) for p, text in sources.items()
        if "sparkContext.applicationId" in text
    )
    assert keyed == [os.path.join("queries", "common.py")], keyed
    sweeps = {
        str(p.relative_to(PKG)): n
        for p, text in sources.items()
        if p.parent.name in ("queries", "streaming")
        and (n := len(re.findall(r"atexit\W*\.register", text)))
    }
    assert sum(sweeps.values()) == 1, sweeps
