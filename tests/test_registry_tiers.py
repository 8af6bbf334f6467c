"""Driver-tier composition invariants (VERDICT r13 #5 — rotation
discipline): the driver verifies exactly the first DRIVER_CAP queries, so
every seat rotation must keep (a) the tier at the cap and (b) every
SURVEY.md §2 operator family that has ever held a driver row still holding
one. Previously this was enforced by eyeball during rotations; now a
demotion that orphans a family fails here instead of surfacing as a judge
finding."""

from __future__ import annotations

from datalakejson_spark.registry import DRIVER_CAP, all_specs, driver_specs

#: the frozen minimum: every §2 family tag the driver tier covered as of
#: round 14. A rotation may ADD tags (a new family earns a seat) but may
#: never drop one — the driver's oracle gate is the strongest correctness
#: evidence a family has.
DRIVER_FAMILY_FLOOR = {
    "D5", "E1", "E2",
    "F1", "F2", "F3", "F4", "F5", "F6", "F7", "F8", "F9",
    "G1", "G2", "G3", "G4", "G5", "G6", "G7", "G8",
    "J1", "J2", "J3", "J4", "J5", "J6", "J7", "J8", "J9", "J10",
    "L1", "L2", "L3", "L4", "L6",
    "O1", "O2", "O3",
    "P1", "P2", "P3", "P4", "P5", "P6", "P7", "P8", "P9", "P10", "P11", "P12",
    "S6", "S8", "S11",
    "T4", "T5", "T6",
    "U1", "U2", "U3",
    "W1", "W2", "W3", "W4", "W5",
    "X1",
}


def _tags(specs) -> set[str]:
    out: set[str] = set()
    for s in specs.values():
        out |= {t.strip() for t in s.survey.split(",") if t.strip()}
    return out


def test_driver_tier_is_exactly_at_cap():
    # exactly at, not merely under: an under-cap tier means a seat was
    # demoted without promoting a replacement — wasted oracle coverage
    assert len(driver_specs()) == DRIVER_CAP


def test_driver_tier_keeps_every_family_seat():
    missing = DRIVER_FAMILY_FLOOR - _tags(driver_specs())
    assert not missing, (
        f"rotation dropped driver coverage for {sorted(missing)} — promote "
        "a query carrying these tags or adjust the floor deliberately"
    )


def test_every_driver_query_has_an_oracle():
    # rows-only checks belong in the extended tier; a driver seat without
    # an oracle wastes the strongest gate on the weakest check
    no_sql = [n for n, s in driver_specs().items() if not s.sql]
    assert no_sql == [], no_sql


def test_extended_queries_stay_registered():
    # demotion must never mean deletion: the full registry keeps every
    # query locally verified (tools/verify_oracle.py runs all of them)
    specs = all_specs()
    for name in (
        "l2_minhash_lsh_pairs",
        "sq2_not_in_anti",
        # r15 rotation
        "j11_salted_hot_key_join",
        "l4_language_profile",
    ):
        assert name in specs and specs[name].extended, name


def test_queries_live_in_family_modules():
    # layout pin: a query lives in the module named for its operator family
    # (relational, joins, windows, tpch, text, ...), never in a module named
    # for the round or sweep that added it
    import re

    stray = sorted(
        f"{name} ({spec.fn.__module__})"
        for name, spec in all_specs().items()
        if re.fullmatch(r"showcase\d*|\w+_extra\d*", spec.fn.__module__.rsplit(".", 1)[-1])
    )
    assert stray == [], stray
