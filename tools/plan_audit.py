"""Plan-quality sweep over EVERY registered query.

``tests/test_plans.py`` locks the hot-path plan properties as
regressions; this tool audits the WHOLE registry so a scale-killer in a
rarely-benched query can't hide. For each query it builds the DataFrame
(no execution beyond what the query's own construction does) and
inspects the physical plan for:

* ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — unbounded join
  strategies. Queries whose lineage contains a SANCTIONED bounded
  crossJoin (K-row codebook fan-outs, the beam's per-level expansion,
  diagnostic all-code enumeration, grid configs) are listed in
  ``BOUNDED_CROSS_OK`` with the bounding argument;
* Exchange count — PINNED against ``tools/plan_baseline.json``
  (VERDICT r8 next-round #6): ``--check`` fails on any INCREASE over
  the committed count (a silent extra shuffle is exactly the
  regression class the DPP/broadcast shape pins already catch for
  their queries), on queries missing from the baseline, and on pins
  ABOVE the fresh count (a stale pin leaves room for a regression that
  re-adds the saved shuffle to pass) — ``--update`` re-pins them;
* whole-stage codegen presence — informational.

Usage::

    python tools/plan_audit.py [sf_dir] [name...]   # report (default sf0.001)
    python tools/plan_audit.py --check [sf_dir]     # fail on exchange regressions
    python tools/plan_audit.py --update [sf_dir]    # re-pin plan_baseline.json

Exit code 1 if any UNsanctioned unbounded join appears (any mode), or
in ``--check`` mode on any exchange-count mismatch / unpinned query.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "plan_baseline.json"
)

# lineages where a cross product is BOUNDED by construction: one side is
# a K-row (or K^2 / grid-sized) literal/codebook frame, never corpus²
BOUNDED_CROSS_OK = {
    "rq_beam_search": "per-level beam fan-out vs K-row codebook",
    "beam_constrained": "per-level beam fan-out vs K-row codebook",
    "eval_all_codes": "diagnostic K^M enumeration (documented)",
    "ensemble_grid": "config-grid crossJoin (dozens of rows)",
    "coarse_to_fine_retrieval": "beam fan-out vs K-row codebook upstream",
    "retrieval_eval_metrics": "run derivation shares the beam lineage",
    "ensemble_fuse": "run derivation shares the beam lineage",
    "nq_hit_test": "run derivation shares the beam lineage",
    "doc_query_sets": "run derivation shares the beam lineage",
    "rq_kmeans_invariant": "MLlib KMeans broadcast of K centers",
    "negatives_cluster": "cluster-mate sampling joins the K-row map",
    "negatives_notclus": "pool pre-sampled to O(need) before cross",
    "ann_ivf_topk": "probe vs K-row centroid frame (impl='join' path)",
    "ann_adc_topk": "LUT build vs K-row codebook",
    "cluster_projection": "positional projection vs K-row grid",
    "text_tfidf_topterms": "crossJoin with the SINGLE-ROW corpus count",
}


def audit(spark, sf_dir: str, filters: tuple[str, ...] = ()) -> list[dict]:
    """Build every (filtered) registered query's plan and report the
    join-shape / exchange-count / codegen facts."""
    from mevi_spark.plans import registry
    from mevi_spark.plans.retrieval import clear_session_caches

    qs = registry.get_queries()
    report = []
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        # the pins are fresh-build plans: a frame an earlier query left
        # persisted would be substituted as an InMemoryRelation whose
        # stored child plan still shows its upstream exchanges
        # (dedup_minhash_pairs 5 -> 9 after a full sweep)
        clear_session_caches(spark)
        spark.catalog.clearCache()
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            report.append({"query": name, "error": str(exc)[:200]})
            continue
        cart = "CartesianProduct" in plan
        bnlj = "BroadcastNestedLoopJoin" in plan
        entry = {
            "query": name,
            "exchanges": len(re.findall(r"\bExchange\b", plan)),
            "codegen": "WholeStageCodegen" in plan,
            "cartesian": cart,
            "bnlj": bnlj,
        }
        if (cart or bnlj) and name not in BOUNDED_CROSS_OK:
            entry["verdict"] = "UNBOUNDED-JOIN"
        elif cart or bnlj:
            entry["verdict"] = f"bounded: {BOUNDED_CROSS_OK[name]}"
        report.append(entry)
    return report


def flagged(report: list[dict]) -> list[str]:
    """Names with an unsanctioned unbounded join or a build error."""
    return [
        e["query"]
        for e in report
        if e.get("verdict") == "UNBOUNDED-JOIN" or "error" in e
    ]


def load_baseline() -> dict:
    with open(BASELINE_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def check_exchanges(report: list[dict], baseline: dict) -> list[str]:
    """Violations of exchange counts vs the baseline: a count above
    its pin, a pin above its count (stale: re-pin so the saved shuffle
    cannot silently come back), or an unpinned query. Queries in the
    baseline but absent from the report (filtered runs) are ignored."""
    pinned = baseline["exchanges"]
    violations = []
    for e in report:
        name = e["query"]
        if "error" in e:
            continue  # already fatal via flagged()
        if name not in pinned:
            violations.append(
                f"{name}: not pinned in plan_baseline.json — run "
                f"`python tools/plan_audit.py --update` and review the diff"
            )
        elif e["exchanges"] > pinned[name]:
            violations.append(
                f"{name}: {e['exchanges']} exchanges > pinned "
                f"{pinned[name]} — an extra shuffle crept in; fix the "
                f"plan or justify + re-pin with --update"
            )
        elif e["exchanges"] < pinned[name]:
            violations.append(
                f"{name}: {e['exchanges']} exchanges < pinned "
                f"{pinned[name]} — stale pin, re-pin with --update"
            )
    return violations


def main() -> None:
    args = [a for a in sys.argv[1:]]
    mode = "report"
    for flag in ("--check", "--update"):
        if flag in args:
            mode = flag.lstrip("-")
            args.remove(flag)
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    filters = tuple(args[1:])

    from mevi_spark.session import get_spark

    spark = get_spark("plan-audit", cpus=8, shuffle_partitions=8)
    report = audit(spark, sf_dir, filters)
    bad = flagged(report)

    if mode == "update":
        if filters:
            sys.exit("--update must pin the FULL registry (no filters)")
        baseline = {
            "sf_dir": sf_dir,
            "exchanges": {
                e["query"]: e["exchanges"]
                for e in report
                if "error" not in e
            },
        }
        with open(BASELINE_PATH, "w", encoding="utf-8") as fh:
            json.dump(baseline, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(
            f"pinned {len(baseline['exchanges'])} queries to "
            f"{BASELINE_PATH}",
            file=sys.stderr,
        )
    elif mode == "check":
        baseline = load_baseline()
        if baseline.get("sf_dir") != sf_dir:
            print(
                f"note: baseline pinned at {baseline.get('sf_dir')}, "
                f"checking at {sf_dir} — broadcast-threshold flips can "
                f"alias as regressions",
                file=sys.stderr,
            )
        violations = check_exchanges(report, baseline)
        for v in violations:
            print(f"VIOLATION {v}", file=sys.stderr)
        bad.extend(violations)

    print(json.dumps(report, indent=1))
    print(
        f"\n{len(report)} queries audited, {len(bad)} flagged"
        + (f": {bad}" if bad else ""),
        file=sys.stderr,
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
