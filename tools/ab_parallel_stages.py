"""Interleaved A/B: concurrent stage builds (stage_cache.build_many)
vs sequential (monkeypatched to plain get_or_build loop).  Interleaved
arms so a box squeeze hits both; best-of-N per arm.

    python tools/ab_parallel_stages.py [--n 4] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = 4
    if "--n" in sys.argv:
        n = int(sys.argv[sys.argv.index("--n") + 1])
        names.remove(str(n))

    os.environ.setdefault("SPARK_GRAFT_QUIET_WINDOWEXEC", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry_mod
    from decisions_kinesis_spark.operators import stage_cache
    from decisions_kinesis_spark.session import get_session

    spark = get_session(app_name="dks-ab-parallel")
    spark.range(1000).selectExpr("sum(id)").collect()
    qs = entry_mod.queries()

    real_build_many = stage_cache.build_many

    def seq_build_many(spark_, specs):
        return [
            stage_cache.get_or_build(spark_, nm, dk, b) for nm, dk, b in specs
        ]

    def clear() -> None:
        from decisions_kinesis_spark.operators.clustering import _KM_LOOP_CACHE

        stage_cache.clear()
        _KM_LOOP_CACHE.clear()

    def one(fn) -> float:
        clear()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for name in names:
        fn = qs[name]
        one(fn)  # JIT/listing warmup, not recorded
        seq, par = [], []
        for _ in range(n):
            stage_cache.build_many = seq_build_many
            seq.append(one(fn))
            stage_cache.build_many = real_build_many
            par.append(one(fn))
        print(
            f"{name:42s} seq best {min(seq):6.3f} (all {[round(x,2) for x in seq]})"
            f"  par best {min(par):6.3f} (all {[round(x,2) for x in par]})",
            flush=True,
        )


if __name__ == "__main__":
    main()
