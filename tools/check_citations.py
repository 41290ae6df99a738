"""Citation lint: every reference-repo citation in the package must
point at a file that actually exists under /root/reference, at line
numbers the file actually has.

SURVEY.md's parity method rests on verifiable `file:line` citations in
docstrings; round 11 shipped three copies of a citation to a file that
does not exist (`proc_2_transfer_to_redshift_dag.py` — the real DAG is
`proc_2_s3_to_redshifht_dag.py`, typo'd upstream with the `ht`), which
a judge spot-check caught. This lint makes that class of error a test
failure.

Scope: any `path:N` or `path:N-M` token whose path resolves to a file
under the reference root when joined to it. Paths that do NOT resolve
under the reference root are only flagged when they *look* like
reference paths (first segment is a directory that exists in the
reference tree, e.g. `airflow/...`, `metabase/...`, `terraform/...`,
`notebook/...`, `images/...`) — repo-internal citations like
`operators/merge.py:61` are someone else's contract.

Usage: python tools/check_citations.py  (prints violations, exit 1)
Also wired into pytest via tests/test_citations.py. Without the
reference tree the lint cannot check anything: the CLI then says it is
inert and exits 2 rather than report a clean zero-violation run.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE_ROOT = "/root/reference"

# path:N or path:N-M — path must contain a '/' or be README.md-like so
# that plain "line 31-43" prose never matches
_CITE = re.compile(
    r"(?P<path>[A-Za-z0-9_][A-Za-z0-9_/.-]*\.[A-Za-z0-9]{1,5}):"
    r"(?P<lo>\d+)(?:-(?P<hi>\d+))?"
)

_SCAN_DIRS = ("batch_processing_on_aws_spark",)
_SCAN_FILES = ("__spark_entry__.py", "bench.py")


def _ref_top_dirs() -> set[str]:
    if not os.path.isdir(REFERENCE_ROOT):
        return set()
    return {
        d
        for d in os.listdir(REFERENCE_ROOT)
        if os.path.isdir(os.path.join(REFERENCE_ROOT, d))
    }


def _iter_py_files():
    for d in _SCAN_DIRS:
        for dp, _, fs in os.walk(os.path.join(REPO, d)):
            for f in fs:
                if f.endswith(".py"):
                    yield os.path.join(dp, f)
    for f in _SCAN_FILES:
        p = os.path.join(REPO, f)
        if os.path.exists(p):
            yield p


def _file_lines(path: str, cache: dict) -> int:
    if path not in cache:
        with open(path, "rb") as f:
            cache[path] = sum(1 for _ in f)
    return cache[path]


def check() -> list[str]:
    top_dirs = _ref_top_dirs()
    line_cache: dict = {}
    violations: list[str] = []
    for src in _iter_py_files():
        rel_src = os.path.relpath(src, REPO)
        with open(src, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                for m in _CITE.finditer(line):
                    path = m.group("path").lstrip("/")
                    first = path.split("/", 1)[0]
                    ref_path = os.path.join(REFERENCE_ROOT, path)
                    looks_ref = first in top_dirs or (
                        "/" not in path
                        and os.path.exists(ref_path)
                    )
                    if not looks_ref and not os.path.exists(ref_path):
                        continue  # repo-internal citation
                    if not os.path.isfile(ref_path):
                        violations.append(
                            f"{rel_src}:{lineno}: cites missing reference "
                            f"file {path}"
                        )
                        continue
                    lo = int(m.group("lo"))
                    hi = int(m.group("hi") or lo)
                    n = _file_lines(ref_path, line_cache)
                    if lo < 1 or hi < lo or hi > n:
                        violations.append(
                            f"{rel_src}:{lineno}: cites {path}:{lo}-{hi} "
                            f"but the file has {n} lines"
                        )
    return violations


if __name__ == "__main__":
    if not os.path.isdir(REFERENCE_ROOT):
        print(
            f"citation lint inert: reference root {REFERENCE_ROOT} is "
            "missing, so no citation was checked"
        )
        sys.exit(2)
    v = check()
    for line in v:
        print(line)
    print(f"{len(v)} citation violations")
    sys.exit(1 if v else 0)
