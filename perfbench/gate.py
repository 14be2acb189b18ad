"""Correctness gate: engine violations against ``datagen.golden_violations``.

The golden sets are computed in plain Python from the same row specs the
generator renders, so they do not depend on the engine. The drift rule is
partition-level and has no golden; it is left out of the comparison.
Sets alone would pass a table that holds a row twice, so row counts are
gated too: each stage's rows must number what the pass reported writing
(``n_violations`` summed over the stage's partitions in its verdicts).
"""

from __future__ import annotations

from collections import Counter

DRIFT_RULE = "distribution_drift"
TRIAGE_RULE = "header_triage"
DECODE_RULES = ("audio_codec", "audio_sample_rate", "audio_duration", "audio_snr")


def observed_sets(rows) -> dict[str, set[str]]:
    """rule -> clip_ids from violation rows (anything with ``rule`` and
    ``clip_id`` fields: Spark Rows or dicts)."""
    out: dict[str, set[str]] = {}
    for r in rows:
        out.setdefault(r["rule"], set()).add(r["clip_id"])
    return out


def mismatches(rows, golden: dict[str, set[str]], triage: bool,
               written: dict[str, int]) -> list[str]:
    """Empty when the violation ``rows`` are correct. Each stage holds as
    many rows as ``written`` says. Full decode: every non-drift rule
    equals its golden set. Triage: rules outside the decode tier equal
    their goldens, decode-tier rules are subsets of theirs (only routed
    clips are decoded), and header-probe findings fall inside the planted
    decode-tier and sample-rate-domain defects."""
    counts = Counter(r["stage"] for r in rows)
    errs = [f"stage {st}: {counts[st]} rows, the pass wrote {written.get(st, 0)}"
            for st in sorted(set(counts) | set(written))
            if counts[st] != written.get(st, 0)]
    observed = observed_sets(rows)
    for rule in sorted(set(observed) - set(golden) - {DRIFT_RULE, TRIAGE_RULE}):
        errs.append(f"{rule}: unexpected rule with {len(observed[rule])} rows")
    if TRIAGE_RULE in observed and not triage:
        errs.append(f"{TRIAGE_RULE}: rows in a full-decode run")
    for rule, want in sorted(golden.items()):
        got = observed.get(rule, set())
        if triage and rule in DECODE_RULES:
            extra = got - want
            if extra:
                errs.append(f"{rule}: {len(extra)} clips outside golden, e.g. {min(extra)}")
        elif got != want:
            errs.append(f"{rule}: {len(got - want)} extra, {len(want - got)} missing")
    if triage:
        planted = set().union(*(golden[r] for r in (*DECODE_RULES, "sr_domain")))
        extra = observed.get(TRIAGE_RULE, set()) - planted
        if extra:
            errs.append(f"{TRIAGE_RULE}: {len(extra)} unplanted clips, e.g. {min(extra)}")
    return errs
