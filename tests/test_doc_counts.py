"""Doc literals must match the live tree.

The README/SURVEY query-count literals went stale twice in two rounds
(200->210 in r12, 220->224 in r13 — both judge findings). This test makes
the registry the single source of truth: bump a count in the docs when (and
only when) the registered tree actually grows, or this fails the gate.
Likewise every cited plan dump or tool script must exist.
No Spark session needed — registration is import-time.
"""

from __future__ import annotations

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry_counts() -> tuple[int, int]:
    from csv_loader_spark.queries.registry import all_specs

    specs = all_specs()
    rows_only = sum(1 for s in specs.values() if s.oracle is None)
    return len(specs), rows_only


def test_readme_query_count_matches_registry():
    total, _ = _registry_counts()
    with open(os.path.join(REPO, "README.md")) as fh:
        m = re.search(r"\((\d+) named queries\)", fh.read())
    assert m, "README.md lost its '(NNN named queries)' literal"
    assert int(m.group(1)) == total, (
        f"README.md says {m.group(1)} named queries; registry has {total}"
    )


def test_survey_registry_preamble_matches_registry():
    total, rows_only = _registry_counts()
    with open(os.path.join(REPO, "SURVEY.md")) as fh:
        m = re.search(
            r"registry \((\d+) entries, (\d+) oracle-checked \+ (\d+) rows-only",
            fh.read(),
        )
    assert m, "SURVEY.md lost its registry-count preamble"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        total,
        total - rows_only,
        rows_only,
    ), (
        f"SURVEY.md says {m.groups()}; registry has "
        f"({total}, {total - rows_only}, {rows_only})"
    )


# Where a cited artifact must exist, and what a citation looks like: a
# path under plans/ (a glob must match at least one file) or a tools/ script.
CITING = [
    "csv_loader_spark",
    "tools",
    "tests",
    "bench.py",
    "README.md",
    "SURVEY.md",
    "SCALE.md",
    "CLAUDE.md",
]
CITATION = re.compile(r"(?<![\w.-])(plans/[\w*][\w./*-]*|tools/[\w*-]+\.py)")


def _citing_files():
    for entry in CITING:
        path = os.path.join(REPO, entry)
        if os.path.isfile(path):
            yield path
            continue
        for root, _, files in os.walk(path):
            yield from (
                os.path.join(root, f) for f in files if f.endswith((".py", ".md"))
            )


def test_cited_plans_and_tools_exist():
    missing = []
    for path in _citing_files():
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                for cited in CITATION.findall(line):
                    cited = cited.rstrip(".")
                    if not glob.glob(os.path.join(REPO, cited)):
                        rel = os.path.relpath(path, REPO)
                        missing.append(f"{rel}:{lineno}: {cited}")
    assert not missing, "cited artifacts not in the tree:\n" + "\n".join(missing)
