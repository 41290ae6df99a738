"""Plan-contract gate over the FULL golden registry — the automated
version of the manual PLANS.md review. Writes PLANS_GATE.json.

Three checks per query (logic in ``plans/contracts.py``):

1. STATIC / hard-fail — cartesian or nested-loop joins outside
   ``CROSS_PRODUCT_ALLOWED``; global (empty or all-foldable partition
   spec) windows outside ``BOUNDED_GLOBAL_WINDOW_ALLOWED``.
2. DYNAMIC / hard-fail — the r6 ``ivf_topk`` funnel shape: a Window
   whose measured INPUT rows grow with the data while the query's
   OUTPUT does not. Each query is materialized at the canonical 1×
   bench fixture (sf0.1) and at the content-disjoint 3× fixture
   (``scaledata/x3``, built by ``tools/gen_scale.py`` when missing); a window is
   flagged when input growth ≥ 2.0×, input at 3× ≥ 5000 rows, and
   input growth ≥ 2× the query's output growth — i.e. the window
   concentrates a growing input while the result stays bounded, which
   is exactly a fixed-key-set reducer funnel. (The original r6 defect
   — the per-query ANN window fed by ~the whole corpus — trips this
   at any scale pair: input 3×, output 1×.) Deliberate exceptions go
   in ``DATA_SCALED_WINDOW_ALLOWED`` with a reason.
3. WARN — SortMergeJoin instances where one side produced < 10k rows
   at 1× (a broadcast AQE left on the table; row count stands in for
   the 10 MB byte threshold).

The 3× run sets SPARK_GRAFT_SKIP_ORACLE_GUARDS=1: scale fixtures
deliberately bind the star/fan-out caps and make no oracle claim.

Usage: python tools/check_plans.py [--json=PATH] [query ...]
A full run (no query filter) writes PLANS_GATE.json; targeted runs
print only. tests/test_plans.py pins the sidecar's registry coverage
and that ``flagged`` is empty.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from batch_processing_on_aws_spark.plans import contracts, golden  # noqa: E402
from batch_processing_on_aws_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF_SCALED = os.environ.get(
    "SPARK_GRAFT_SCALED_DIR", os.path.join(REPO, "scaledata", "x3")
)
SMALL_SMJ_ROWS = 10_000
MIN_FLAG_ROWS = 5_000          # ignore tiny frames at the scaled point
IN_GROWTH_FLOOR = 2.0          # of the 3.0x data growth
FUNNEL_RATIO = 2.0             # input growth vs output growth


def _run(fn, spark, sf_dir):
    df = fn(spark, sf_dir)
    n_out = len(df.collect())
    return df, n_out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_path = os.path.join(REPO, "PLANS_GATE.json")
    merge = "--merge" in sys.argv[1:]
    for a in sys.argv[1:]:
        if a.startswith("--json="):
            json_path = a.split("=", 1)[1]
    only = set(args)

    from gen_scale import ensure

    ensure(SF_SCALED, 3, SF_BASE)
    spark = get_spark()
    qdefs = [q for q in golden.QUERIES if not only or q.name in only]

    gate = {
        "sf_base": SF_BASE,
        "sf_scaled": SF_SCALED,
        "static": {},
        "windows": {},
        "smj_small_sides": {},
        "flagged": [],
        "warns": [],
        "errors": {},
        "queries": [q.name for q in qdefs],
        "thresholds": {
            "min_flag_rows": MIN_FLAG_ROWS,
            "in_growth_floor": IN_GROWTH_FLOOR,
            "funnel_ratio": FUNNEL_RATIO,
            "small_smj_rows": SMALL_SMJ_ROWS,
        },
    }

    t_all = time.time()
    for q in qdefs:
        t0 = time.time()
        try:
            os.environ.pop("SPARK_GRAFT_SKIP_ORACLE_GUARDS", None)
            df1, out1 = _run(q.fn, spark, SF_BASE)
            static = contracts.static_findings(df1)
            violations = contracts.static_violations(q.name, df1)
            in1 = contracts.window_profile(df1)
            smj = contracts.sort_merge_join_small_sides(df1, SMALL_SMJ_ROWS)

            os.environ["SPARK_GRAFT_SKIP_ORACLE_GUARDS"] = "1"
            df3, out3 = _run(q.fn, spark, SF_SCALED)
            in3 = contracts.window_profile(df3)
        except Exception as e:  # noqa: BLE001
            gate["errors"][q.name] = f"{type(e).__name__}: {str(e)[:200]}"
            gate["flagged"].append(q.name)
            print(f"ERR  {q.name}: {gate['errors'][q.name]}")
            continue
        finally:
            os.environ.pop("SPARK_GRAFT_SKIP_ORACLE_GUARDS", None)

        gate["static"][q.name] = {**static, "violations": violations}
        if smj:
            gate["smj_small_sides"][q.name] = smj
            gate["warns"].append(
                f"{q.name}: {smj} SortMergeJoin side(s) under "
                f"{SMALL_SMJ_ROWS} rows at 1x — broadcast candidate"
            )

        if len(in1) != len(in3):
            gate["warns"].append(
                f"{q.name}: window count differs across scales "
                f"({len(in1)} vs {len(in3)}) — growth check skipped"
            )
            flagged_windows = []
        else:
            flagged_windows = contracts.flag_funnel_windows(
                in1, in3, out1, out3,
                min_flag_rows=MIN_FLAG_ROWS,
                in_growth_floor=IN_GROWTH_FLOOR,
                funnel_ratio=FUNNEL_RATIO,
            )
        allowed = contracts.DATA_SCALED_WINDOW_ALLOWED.get(q.name)
        gate["windows"][q.name] = {
            "in_base": in1,
            "in_scaled": in3,
            "out_base": out1,
            "out_scaled": out3,
            "flagged_windows": flagged_windows,
            "allowed": allowed,
        }
        hard = list(violations)
        if flagged_windows and not allowed:
            hard.append(
                f"window(s) {flagged_windows} input grows with data "
                f"while output does not (in {in1}->{in3}, out "
                f"{out1}->{out3}) — the ivf_topk funnel shape; declare "
                "in DATA_SCALED_WINDOW_ALLOWED only with a measured "
                "bounded-per-key argument"
            )
        if hard:
            gate["flagged"].append(q.name)
            print(f"FAIL {q.name}: {hard}")
        else:
            print(f"pass {q.name} ({time.time() - t0:.1f}s)")

    gate["elapsed_sec"] = round(time.time() - t_all, 1)
    print(
        f"\n{len(gate['flagged'])} flagged, {len(gate['warns'])} warns, "
        f"{len(gate['queries'])} queries in {gate['elapsed_sec']}s"
    )
    if gate["warns"]:
        for w in gate["warns"]:
            print("WARN", w)
    if only and merge:
        # --merge: fold the targeted queries into the existing sidecar
        # so adding a registry query doesn't cost a full re-run. The
        # merged file re-derives flagged/warns per query: stale
        # entries for queries no longer in the registry are dropped,
        # and the coverage list is rebuilt from the CURRENT registry —
        # the pytest pin (exact coverage) still catches queries that
        # were never run under either path.
        with open(json_path) as f:
            prev = json.load(f)
        names = {q.name for q in golden.QUERIES}
        for sect in ("static", "windows", "smj_small_sides", "errors"):
            merged = {
                k: v for k, v in prev.get(sect, {}).items() if k in names
            }
            merged.update(gate[sect])
            gate[sect] = merged
        # coverage = what actually ran under either path (a query
        # neither previously gated nor targeted now stays missing, so
        # the pytest exact-coverage pin still fails on it)
        gate["queries"] = sorted(
            set(gate["static"]) | set(gate["errors"])
        )
        ran = set(gate["flagged"]) | {
            w.split(":", 1)[0] for w in gate["warns"]
        }
        gate["flagged"] += [
            q for q in prev.get("flagged", [])
            if q in names and q not in only and q not in ran
        ]
        gate["warns"] += [
            w for w in prev.get("warns", [])
            if w.split(":", 1)[0] in names and w.split(":", 1)[0] not in only
        ]
        gate["elapsed_sec"] = round(
            gate["elapsed_sec"] + prev.get("elapsed_sec", 0), 1
        )
        with open(json_path, "w") as f:
            json.dump(gate, f, indent=1, sort_keys=True)
        print(f"merged {sorted(only)} into {json_path}")
    elif not only:
        with open(json_path, "w") as f:
            json.dump(gate, f, indent=1, sort_keys=True)
        print(f"wrote {json_path}")


if __name__ == "__main__":
    main()
