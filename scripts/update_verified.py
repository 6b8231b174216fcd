#!/usr/bin/env python
"""Regenerate the verified-query rotation state for ser_etl_spark/registry.py.

Run at the start of each round after the driver writes CORRECTNESS_r{N}.json:
a query counts as verified once any round gave it a green row (hash_match for
oracle-backed entries, a clean rows-only run for oracle-less ones).

Three outputs (VERDICT r12 #2: the curation note and pending count are
GENERATED and ASSERTED here, never hand-written):
  1. ``ser_etl_spark/registry.py`` — with ``--write``, the block between the
     ``BEGIN/END GENERATED VERIFIED ROTATION`` markers is rewritten in place:
     a generated per-round curation comment (sources, kept count, held-out
     names, recomputed pending count) plus the ``VERIFIED_PRIOR_ROUNDS``
     frozenset literal. Without ``--write`` the block is printed to stdout.
  2. ``ser_etl_spark/_verified_hashes.py`` — generated module recording the
     CURRENT builder source hash per query (a held-out name keeps the hash
     recorded before, see :func:`source_hashes`). ``registry.all_queries``
     rotates any query whose builder source no longer matches back into
     the driver's verification window automatically.
  3. stderr — the recomputed pending count (= registered − verified after
     excludes), ASSERTED against the driver's ~50-row window so an
     overflowing window fails loudly at regeneration time instead of
     silently dropping queries from verification.

Usage:
  python scripts/update_verified.py [--write] [--round N]
         [--exclude n1,n2] [CORRECTNESS_r*.json ...]

``--exclude`` applies the manual-curation step in one place: names whose
implementation was deeply rewritten SINCE their green row (through shared
helpers the source hash can't see, or before this regeneration — the hash
file records CURRENT hashes, so pre-regeneration rewrites are invisible
to the automatic rotation). Excluded names are dropped from the generated
frozenset so they re-enter the driver window, and keep their previously
recorded hash, so re-adding one without a green row cannot verify it.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import textwrap

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: the driver verifies roughly this many registry-ordered entries per round;
#: the pending set must fit or tail queries silently go unverified.
DRIVER_WINDOW = 50

BEGIN = "# --- BEGIN GENERATED VERIFIED ROTATION (scripts/update_verified.py) ---"
END = "# --- END GENERATED VERIFIED ROTATION ---"


def generated_block(
    verified: set[str],
    pending: set[str],
    dropped: set[str],
    paths: list[str],
    round_no: int | None,
) -> str:
    head = f"Round-{round_no} curation: " if round_no else "Curation: "
    note = (
        head
        + f"regenerated from {os.path.basename(paths[0])}.."
        + f"{os.path.basename(paths[-1])} ({len(verified)} kept). "
        + f"Recomputed pending set (registered - verified): "
        + f"{len(pending)} <= window {DRIVER_WINDOW}."
    )
    if dropped:
        note += (
            " Held out (deep rewrites the wrapper hash cannot see): "
            + ", ".join(sorted(dropped))
            + "."
        )
    lines = [BEGIN]
    for ln in textwrap.wrap(note, width=72):
        lines.append(f"# {ln}")
    lines.append("VERIFIED_PRIOR_ROUNDS: frozenset[str] = frozenset({")
    for name in sorted(verified):
        lines.append(f'    "{name}",')
    lines.append("})")
    lines.append(END)
    return "\n".join(lines)


def source_hashes(
    specs: dict,
    current,
    recorded: dict[str, str],
    held_out: set[str],
) -> dict[str, str]:
    """Hash per registered query for ``_verified_hashes.py``: ``current``
    (spec -> hash or None) of its builder source, except that a held-out
    name keeps its ``recorded`` hash, if any. Its current source is the
    rewrite that has not been verified; recording it would let the
    rewrite count as verified once the name is back in
    ``VERIFIED_PRIOR_ROUNDS``."""
    out: dict[str, str] = {}
    for name in sorted(specs):
        h = recorded.get(name) if name in held_out else current(specs[name])
        if h is not None:
            out[name] = h
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("paths", nargs="*")
    ap.add_argument(
        "--exclude",
        default="",
        help="comma-separated query names to hold out of the verified set",
    )
    ap.add_argument(
        "--write",
        action="store_true",
        help="rewrite the generated block in ser_etl_spark/registry.py",
    )
    ap.add_argument(
        "--round", type=int, default=None, help="round number for the note"
    )
    args = ap.parse_args()
    excluded = {n for n in args.exclude.split(",") if n}
    paths = args.paths or sorted(glob.glob("CORRECTNESS_r*.json"))
    verified: set[str] = set()
    for path in paths:
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if row.get("hash_match") is True:
                verified.add(name)
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                verified.add(name)

    from ser_etl_spark.registry import all_queries, spec_source_hash

    try:
        from ser_etl_spark._verified_hashes import VERIFIED_SOURCE_HASHES
    except ImportError:  # first generation
        VERIFIED_SOURCE_HASHES = {}

    specs = all_queries()
    # a green row for a since-deleted/renamed query must not linger
    stale = verified - set(specs)
    if stale:
        print(f"# dropping stale names: {', '.join(sorted(stale))}",
              file=sys.stderr)
        verified -= stale
    dropped = verified & excluded
    verified -= excluded

    pending = set(specs) - verified
    print(
        f"# {len(specs)} registered, {len(verified)} verified, "
        f"{len(pending)} pending (window {DRIVER_WINDOW})",
        file=sys.stderr,
    )
    # RuntimeError, not assert: this invariant gates regeneration and must
    # survive `python -O` (ADVICE r13).
    if len(pending) > DRIVER_WINDOW:
        raise RuntimeError(
            f"pending set {len(pending)} overflows the driver's "
            f"{DRIVER_WINDOW}-row verification window: "
            f"{sorted(pending)}"
        )

    block = generated_block(verified, pending, dropped, paths, args.round)
    reg_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ser_etl_spark",
        "registry.py",
    )
    if args.write:
        with open(reg_path) as fh:
            src = fh.read()
        pat = re.compile(
            re.escape(BEGIN) + r".*?" + re.escape(END), flags=re.DOTALL
        )
        if not pat.search(src):
            raise RuntimeError(
                "generated-block markers missing in registry.py"
            )
        with open(reg_path, "w") as fh:
            fh.write(pat.sub(block.replace("\\", "\\\\"), src, count=1))
        print(f"# rewrote generated block in {reg_path}", file=sys.stderr)
    else:
        print(block)

    # Record builder source hashes for every registered query (not just the
    # verified set, so a later round's regeneration has them all).
    hashes = source_hashes(
        specs, spec_source_hash, VERIFIED_SOURCE_HASHES, excluded
    )
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ser_etl_spark",
        "_verified_hashes.py",
    )
    with open(out, "w") as fh:
        fh.write(
            '"""GENERATED by scripts/update_verified.py — do not edit.\n\n'
            "Builder source hash per query at the time VERIFIED_PRIOR_ROUNDS\n"
            "was last regenerated; registry.all_queries rotates queries whose\n"
            'builder source has since changed back into the driver window.\n"""\n\n'
        )
        fh.write("VERIFIED_SOURCE_HASHES: dict[str, str] = {\n")
        for name, h in hashes.items():
            fh.write(f'    "{name}": "{h}",\n')
        fh.write("}\n")
    print(f"# wrote {out} ({len(specs)} hashes)", file=sys.stderr)


if __name__ == "__main__":
    main()
