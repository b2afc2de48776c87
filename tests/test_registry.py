"""Registry guards: the driver contract's key sets, fully formatted
oracle texts, and no oracle or package source tied to one checkout's
absolute path."""

from __future__ import annotations

import re
from pathlib import Path

from graphsense_blocksci_spark import fixtures
from graphsense_blocksci_spark.queries import _FIXTURE_DIR, ORACLE_SQL, QUERIES

PACKAGE = Path(__file__).resolve().parents[1] / "graphsense_blocksci_spark"


def test_key_sets():
    assert len(QUERIES) == 470
    assert len(ORACLE_SQL) == 466
    assert set(ORACLE_SQL) <= set(QUERIES)


def test_no_unformatted_placeholder_in_oracles():
    """Text moved between an f-string and a plain string keeps its
    `{{` escapes or its `{_NAME}` placeholders verbatim."""
    bad = {
        k: m.group(0)
        for k, sql in ORACLE_SQL.items()
        if (m := re.search(r"\{\{|\}\}|\{_[A-Za-z]", sql))
    }
    assert not bad, bad


def test_oracles_read_this_checkouts_fixtures():
    assert Path(_FIXTURE_DIR) == Path(fixtures.DEFAULT_DIR)
    reads = [
        (k, path)
        for k, sql in ORACLE_SQL.items()
        for path in re.findall(r"read_parquet\('([^']*)'", sql)
    ]
    assert reads
    bad = [(k, p) for k, p in reads if Path(p).parent != Path(_FIXTURE_DIR)]
    assert not bad, bad


def test_no_checkout_path_in_package_sources():
    """Run from any other copy of the repository, an embedded absolute
    checkout path would read that checkout's files, not this one's."""
    checkout = str(PACKAGE.parent)
    hits = [
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if checkout in p.read_text(encoding="utf-8")
    ]
    assert not hits, hits
