"""Static guard for the scratch contract: no query changes the
session's conf, writes outside ``scratch.workdir`` or leaves a view in
the session catalog. The smoke test checks the same at run time, query
by query; this scan names the offending file before anything runs."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "mousedatapipeline_spark"


def _sources(sub: str = ""):
    for p in sorted((PKG / sub).rglob("*.py")):
        yield p.relative_to(PKG).as_posix(), p.read_text()


def test_conf_is_set_only_at_construction_and_around_drain_start():
    setters = {name: src.count("spark.conf.set(")
               for name, src in _sources() if "spark.conf.set(" in src}
    assert setters == {"session.py": 1, "streaming/fold.py": 2}
    fold = (PKG / "streaming" / "fold.py").read_text()
    drain = fold[fold.index("def drain("):fold.index("def sink(")]
    assert drain.count("spark.conf.set(") == 2


def test_no_query_imports_tempfile():
    found = [name for name, src in _sources("plans")
             if re.search(r"^\s*(import tempfile|from tempfile )", src, re.M)]
    assert found == []


def test_the_only_temp_view_is_q46s_and_it_is_dropped():
    views = [(name, src) for name, src in _sources("plans")
             if "createOrReplaceTempView" in src]
    assert [name for name, _ in views] == ["plans/relational_queries.py"]
    src = views[0][1]
    assert src.count("createOrReplaceTempView") == 1
    body = src[src.index("def q46_sql_frontdoor"):]
    body = body[:body.index("\n@register")]
    assert "createOrReplaceTempView" in body
    assert 'dropTempView("lineitem")' in body
