"""Fast catalog-consistency gate (installed as .git/hooks/pre-commit).

Rounds 6 and 7 both shipped a red pytest for the same reason: a final
commit registered a new catalog query without bumping the count pin in
tests/test_cli.py (VERDICT r07 ask #1). This check makes that drift a
failed commit instead of a failed round. It is import-only (no Spark
JVM, no JDBC) so it runs in a couple of seconds:

1. live catalog size == the ``len(qs) == N`` / ``len(oracles) == N`` pins
   in tests/test_cli.py;
2. CATALOG.md data-row count == live catalog size (and its names match);
3. every query has an oracle entry or is a documented rows-only check;
4. every query has a green row in scripts/sf1_diff.json;
5. the driver rotation holds: simulating the next MAX_STALE records from
   the committed CORRECTNESS_r*.json files, with the emission order
   queries() uses, leaves no name more than MAX_STALE rounds stale and
   none never recorded (so the catalog fits MAX_STALE x PREFIX slots);
6. README.md's "N named queries" line == live catalog size.

Escape hatch for genuinely unrelated emergency commits:
``PRECOMMIT_SKIP=1 git commit ...``.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def fail(msg: str) -> None:
    print(f"precommit_check: FAIL — {msg}", file=sys.stderr)
    print(
        "precommit_check: fix what the message names in the same commit "
        "(scripts/gen_catalog.py regenerates CATALOG.md), or bypass with "
        "PRECOMMIT_SKIP=1 for an unrelated emergency commit.",
        file=sys.stderr,
    )
    sys.exit(1)


def main() -> None:
    if os.environ.get("PRECOMMIT_SKIP") == "1":
        print("precommit_check: skipped via PRECOMMIT_SKIP=1")
        return

    from etl_ml_pipeline_spark.queries import (
        MAX_STALE,
        PREFIX,
        all_oracles,
        all_queries,
        emission_order,
        last_recorded,
    )

    qs, oracles = all_queries(), all_oracles()

    # 1. pins in tests/test_cli.py (queries and oracles separately —
    # they differ by the documented rows-only set)
    test_src = (REPO / "tests" / "test_cli.py").read_text()
    for var, want in (("qs", len(qs)), ("oracles", len(oracles))):
        pins = re.findall(rf"len\({var}\) == (\d+)", test_src)
        if not pins:
            fail(f"no len({var}) pin found in tests/test_cli.py")
        for p in pins:
            if int(p) != want:
                fail(
                    f"live {var} count is {want} but tests/test_cli.py "
                    f"pins {p} — bump the pin in the same commit"
                )

    # 2. CATALOG.md rows
    cat_names = re.findall(
        r"^\|\s*\d+\s*\|\s*`([^`]+)`", (REPO / "CATALOG.md").read_text(), re.M
    )
    if len(cat_names) != len(qs) or set(cat_names) != set(qs):
        missing = sorted(set(qs) - set(cat_names))
        extra = sorted(set(cat_names) - set(qs))
        fail(
            f"CATALOG.md documents {len(cat_names)} queries, catalog has "
            f"{len(qs)} (missing={missing}, stale={extra}) — rerun "
            "scripts/gen_catalog.py"
        )

    # 3. oracle coverage: rows-only queries are allowed ONLY when
    # documented in queries.ROWS_ONLY (non-SQL-expressible outputs with
    # an oracle-checked contract twin)
    from etl_ml_pipeline_spark.queries import ROWS_ONLY

    rows_only = set(qs) - set(oracles)
    if rows_only != set(ROWS_ONLY):
        fail(
            f"rows-only queries {sorted(rows_only)} != documented "
            f"ROWS_ONLY {sorted(ROWS_ONLY)}"
        )

    # 4. sf1-differential coverage: every catalog
    # query must have a row in scripts/sf1_diff.json. A new query
    # closes its gap incrementally with
    #   python scripts/sf1_diff.py --only NAME
    # in the same commit that registers it.
    import json

    sf1 = json.loads((REPO / "scripts" / "sf1_diff.json").read_text())
    sf1_names = set(sf1["results"])
    uncovered = sorted(set(qs) - sf1_names)
    if uncovered:
        fail(
            f"sf1_diff.json is missing {uncovered} — run "
            f"'python scripts/sf1_diff.py --only {','.join(uncovered)}' "
            "and commit the updated json alongside the catalog change"
        )
    # A present-but-red row is as bad as a missing one (an sf1 run
    # against a stale/absent .sf1 dir records ok=False in ~0.1s per
    # name — regenerate with scripts/make_sf1.py and re-run --only).
    sf1_red = sorted(n for n in qs if not sf1["results"][n].get("ok"))
    if sf1_red:
        fail(
            f"sf1_diff.json has ok=false for {sf1_red} — regenerate .sf1 "
            "(scripts/make_sf1.py) if absent, then "
            f"'python scripts/sf1_diff.py --only {','.join(sf1_red)}'"
        )

    # 5. staleness contract: replay the next
    # MAX_STALE driver records (each takes the first PREFIX names of the
    # emission order queries() uses) from the committed records. A name
    # over the bound, or one still never recorded at the end, means the
    # catalog does not fit the rotation.
    simulated = last_recorded()
    for _ in range(MAX_STALE):
        next_round = max(simulated.values(), default=0) + 1
        for name in emission_order(qs, simulated)[:PREFIX]:
            simulated[name] = next_round
        overdue = sorted(
            name
            for name in qs
            if name in simulated and next_round - simulated[name] > MAX_STALE
        )
        if overdue:
            fail(
                f"staleness contract broken: after the simulated round-"
                f"{next_round} record ({PREFIX}-name prefix), these names "
                f"exceed {MAX_STALE} rounds stale: {overdue}"
            )
    never = sorted(set(qs) - set(simulated))
    if never:
        fail(
            f"{len(qs)} queries do not fit {MAX_STALE} records of {PREFIX} "
            f"names: {never} would still be unrecorded after round "
            f"{next_round} — retire or merge queries"
        )

    # 6. README catalog-count pin: README.md's
    # "N named queries" line must match the live catalog so the first
    # doc a reader opens can never drift again (it said 237 at 239).
    readme = (REPO / "README.md").read_text()
    readme_pins = re.findall(r"(\d+) named queries", readme)
    if not readme_pins:
        fail("README.md no longer contains the 'N named queries' line")
    for p in readme_pins:
        if int(p) != len(qs):
            fail(
                f"README.md says {p} named queries but the live catalog "
                f"has {len(qs)} — true up README.md in the same commit"
            )

    print(
        f"precommit_check: OK — catalog {len(qs)} queries, pin + "
        "CATALOG.md + oracles + sf1 + README consistent; simulated "
        f"records through round {next_round}: none over {MAX_STALE} "
        "rounds stale, none unrecorded"
    )


if __name__ == "__main__":
    main()
