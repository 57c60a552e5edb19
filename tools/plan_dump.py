"""Dump ``explain("formatted")`` for named queries into plans/$SPARK_GRAFT_PLANDIR (default r14)/.

    python tools/plan_dump.py <suffix> <query> [<query> ...]
    SPARK_GRAFT_REPO=/path python tools/plan_dump.py before ...

The repo whose code is dumped comes from $SPARK_GRAFT_REPO (default:
this file's repo) — point it at a detached worktree of an older commit
to capture "before" plans; output always lands in THIS repo's
plans/<dir>/ as <query>_<suffix>.txt.

Before writing, each session-history counter in the text (``#n``
expression ids, ``plan_id=n``, ``...RDD[n]`` of checkpoint scans) is
renumbered by order of first appearance, so dumps of the same plan are
byte-equal and plain ``diff`` is a plan-identity check.
"""

from __future__ import annotations

import os
import re
import sys

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (prefix, digits) for each counter that depends on what the session
# built before the plan; each is renumbered on its own
_COUNTERS = (
    re.compile(r"(#)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(RDD\[)(\d+)"),
)


def renumber_ids(plan: str) -> str:
    """Replace every session-history counter in ``plan`` by its rank of
    first appearance (0, 1, ...), keeping equal ids equal."""
    for pattern in _COUNTERS:
        seen: dict[str, int] = {}
        plan = pattern.sub(
            lambda m: m.group(1) + str(seen.setdefault(m.group(2), len(seen))),
            plan,
        )
    return plan


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    code_repo = os.environ.get("SPARK_GRAFT_REPO", _HERE)
    sys.path.insert(0, code_repo)
    os.environ.setdefault("SPARK_GRAFT_QUIET_WINDOWEXEC", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.path.join(
        _HERE, "plans", os.environ.get("SPARK_GRAFT_PLANDIR", "r14")
    )

    # bind the package to code_repo FIRST: __spark_entry__ hardcodes
    # sys.path.insert(0, "/root/repo"), which would otherwise resolve
    # the operator modules from the live repo even in a "before" dump
    import decisions_kinesis_spark  # noqa: F401

    assert decisions_kinesis_spark.__file__.startswith(code_repo), (
        decisions_kinesis_spark.__file__
    )
    import __spark_entry__ as entry
    from decisions_kinesis_spark.session import get_session

    spark = get_session(
        app_name="dks-plan-dump",
        extra_conf={"spark.sql.debug.maxToStringFields": "500"},
    )
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        p = df._jdf.queryExecution().explainString(  # noqa: SLF001
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(renumber_ids(p))
        print(f"wrote {path} ({len(p.splitlines())} lines)", flush=True)


if __name__ == "__main__":
    main()
