"""Plan-fingerprint harness: the scale-discipline twin of check_oracle.

check_oracle proves VALUES match; this proves the PLANS stay the shape
the 100 TB story depends on. For every registered query it extracts the
physical-plan properties that must never silently regress:

- cartesian: CartesianProduct / BroadcastNestedLoopJoin present
- py_eval:   row-at-a-time Python (BatchEvalPython) present
- arrow_eval: Arrow-batched Python stages (expected only where an
  operator declares a pandas UDF boundary)
- global_window: a Window-family node (WindowExec / WindowInPandasExec /
  WindowGroupLimitExec) with an EMPTY partitionSpec — the classic
  single-partition scale-killer: ALL rows shuffle to one task. Detected
  from the physical plan's JSON serialization (string-regexing the
  rendered Window line is unreliable because the expression list nests
  brackets).
- global_sort: a global SortExec that is NOT the output finisher — a
  mid-plan total order feeding further computation (range partitioning
  makes it distributed, but it is still an extra full-data range
  exchange that an operator should not silently grow). The finisher
  ``orderBy`` every oracle-compared query ends with is exempt: a global
  sort whose ancestors are all pass-through nodes (Project /
  CollectLimit / codegen wrappers) is the deterministic-output sort,
  not a plan smell. Detected by rebuilding the plan tree from the JSON
  pre-order (num-children) and checking ancestors.

Both new flags read the PRE-execution AQE plan (initialPlan); subquery
plans are not traversed (none of the registered queries hide data-scale
sorts in subqueries — scalar-attach subqueries are 1-row). If a plan's
JSON serialization throws (some lambda expressions are not
JSON-serializable), the two flags are recorded as null = unknown and
skipped in comparison.

Usage:
  python scripts/check_plans.py --snapshot   # (re)write PLANS.json
  python scripts/check_plans.py              # compare against PLANS.json

Comparison policy: booleans only (never exact operator counts — AQE and
statistics legitimately re-shape plans run to run); a query may IMPROVE
(flag true -> false) without failing, but a false -> true transition on
cartesian/py_eval fails, and arrow_eval growth fails unless the
snapshot is refreshed deliberately (a new pandas-UDF boundary should be
a reviewed decision, not an accident).

Snapshot state (reviewed): py_eval=0 everywhere; the cartesian=true
entries (38; 39 until ts_resample_locf's per-user grid cross join gave
way to one hash exchange on user_id) are all one of two declared benign
classes —
(a) SCALAR-ATTACH joins: a 1-row aggregate (corpus total, cutoff
timestamp, weight normalizer) broadcast-nested-loop-joined onto a data
frame, the standard way to attach a scalar without a collect; (b) the
ts_hll_matrix pair build: a '<' self-join over the DISTINCT-GROUPS
frame (≤ group-cardinality rows, sketch-side — bounded no matter the
input size; pinned in tests/test_plans.py). No registered query does a
data-by-data cartesian (separately pinned per-operator in
tests/test_plans.py). The check exists for the TRANSITION: a formerly
clean query growing one.

Round-5 adjudication of the two new flags over all 178 plans:
- global_sort: ONE hit (mm_shard_manifest) — a REAL catch: token_budget
  ended with orderBy("media_id") and shard_manifest composed on top,
  inheriting a full-data range exchange + sort that the window's hash
  shuffle immediately destroyed. Fixed (unordered _token_budget core);
  snapshot now has global_sort=0 everywhere.
- global_window: THREE hits, all reviewed tiny-frame windows, kept:
  cur_pack_sequences + ts_lateness_audit — the pass-2 prefix scan over
  the <= shuffle-partitions-row per-shard offsets table of the two-pass
  prefix-sum/cummax pattern (the pattern exists precisely so the DATA
  never sees a partition-less window); ts_top_paths — rank over the
  k=20 survivors of a TakeOrderedAndProject. These stay true in the
  snapshot; a NEW global_window anywhere else fails the gate.
  ts_align_ffill was a fourth (ts.locf's pass 2) until it moved onto
  the store's aligned kernel (ts.align), which plans a scan this small
  as one bucket and skips pass 2; past the advisory partition size it
  runs that same tiny-frame prefix scan again.

Round-5 additions (186 queries total): the 8 new queries contribute 2
cartesian=true (ts_rfm_segments' percentile-breakpoint scalar attach,
cur_budget_alloc's weight-normalizer attach — both the reviewed 1-row
class) and 2 arrow_eval=true (emb_knn_graph's integer-GEMM scorer,
dedup_bloom_decontaminate's FNV hasher — declared pandas-UDF
boundaries); ts_event_transitions, dedup_decontaminate_mask, and
emb_quantize_int8 are clean on every flag, and emb_graph_clusters'
registered plan carries none (its CC driver fast path executes the knn
pipeline during the bounded probe, so the final plan is just
vertices ⋈ broadcast(component map)). global_sort/global_window clean
on all 8. ts_forecast_snaive (the 187th) adds one more reviewed
cartesian (its backtest-cutoff scalar attach): snapshot totals
cartesian=28, arrow_eval=27, py_eval=0, global_sort=0, global_window=4
(unchanged by mm_blob_dedup, the 188th — all flags clean: one JVM-side
sha2 projection + one digest-keyed aggregate).
Round-8 additions (211 queries total): join_band_plan and
join_skew_profile each add one reviewed cartesian (the 1-row
broadcast verdict/scalar attach — band_plan's best-ε row,
key_skew_profile's table-totals row; snapshot cartesian=35).
join_skew_profile's top-5 is a TakeOrderedAndProject (no global_sort);
dedup_savings_profile and cur_dataset_card (Expand+single agg) are
clean on every flag.
NOTE the three classic flags deliberately stay STRING-based
(plans.inspect.string_fingerprint): the rendered tree includes subquery
plans and every pandas-UDF node variant; a JSON-class version measured
2 fewer cartesians (subquery BNLJs) and 7 fewer arrow_evals
(AggregateInPandas etc.) — i.e. it under-reported.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SNAPSHOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.json"
)

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")


# fingerprinting lives in the library (bytehub_spark.plans.inspect):
# string_fingerprint for cartesian/py_eval/arrow_eval (rendered string —
# covers subquery plans and every pandas-UDF node variant),
# structural_flags for global_sort/global_window (JSON tree) — tests and
# ops tooling share ONE implementation with this gate


def collect_fingerprints() -> dict:
    import __spark_entry__ as entry_mod
    from bytehub_spark.plans.scratch import release_scratch
    from bytehub_spark.session import get_spark

    spark = get_spark("plan_check")
    out = {}
    for name, fn in entry_mod.queries().items():
        t0 = time.time()
        try:
            from bytehub_spark.plans.inspect import (
                executed_plan,
                string_fingerprint,
                structural_flags,
            )

            df = fn(spark, SF_DIR)
            fp = string_fingerprint(executed_plan(df))
            fp.update(structural_flags(df))  # None-valued if JSON fails
            out[name] = fp
        except Exception as e:  # plan construction itself failed
            out[name] = {"error": str(e)[:200]}
        finally:
            release_scratch()
        dt = time.time() - t0
        if dt > 5:
            print(f"  (slow plan: {name} {dt:.1f}s)", file=sys.stderr)
    return out


def main() -> int:
    write = "--snapshot" in sys.argv
    got = collect_fingerprints()
    if write:
        with open(SNAPSHOT, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
        n_cart = sum(1 for v in got.values() if v.get("cartesian"))
        n_py = sum(1 for v in got.values() if v.get("py_eval"))
        n_arrow = sum(1 for v in got.values() if v.get("arrow_eval"))
        n_gsort = sum(1 for v in got.values() if v.get("global_sort"))
        n_gwin = sum(1 for v in got.values() if v.get("global_window"))
        n_json = sum(1 for v in got.values() if v.get("global_sort", False) is None)
        n_err = sum(1 for v in got.values() if "error" in v)
        print(
            f"snapshot: {len(got)} queries -> {SNAPSHOT} "
            f"(cartesian={n_cart} py_eval={n_py} arrow_eval={n_arrow} "
            f"global_sort={n_gsort} global_window={n_gwin} "
            f"json_unknown={n_json} errors={n_err})"
        )
        for flag in ("global_sort", "global_window"):
            hits = sorted(k for k, v in got.items() if v.get(flag))
            if hits:
                print(f"  {flag}: {', '.join(hits)}")
        return 0
    want = json.load(open(SNAPSHOT))
    failures = []
    for name, g in got.items():
        w = want.get(name)
        if w is None:
            failures.append(f"NEW {name}: not in snapshot — refresh PLANS.json")
            continue
        if "error" in g and "error" not in w:
            failures.append(f"ERR {name}: plan construction now fails: {g['error']}")
            continue
        if "error" in w:
            continue
        for flag in ("cartesian", "py_eval", "arrow_eval", "global_sort", "global_window"):
            # None = JSON serialization unavailable for this plan: no info,
            # skip (never treat unknown as a regression or as a clean bill)
            if g.get(flag) and w.get(flag) is not None and not w.get(flag):
                failures.append(f"REGRESSED {name}: {flag} false -> true")
    for f_ in failures:
        print(f_)
    print(("FAIL: " if failures else "OK: ") + f"{len(got)} plans checked, "
          f"{len(failures)} regressions")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
