"""Regenerate ``DRIVER_ORDER`` for the next driver round.

The driver's ``CORRECTNESS_r{N}.json`` records at most 50 entries per
round, taken in ``queries()`` order.  To maximize evidence VALUE the
rotation front-loads queries in staleness-IN-KIND order (VERDICT r8
item 2) — not just count/recency, because a query whose semantics or
oracle changed after its last driver row has evidence that is stale in
kind even if recent in round number:

1. never driver-recorded (no row in any committed
   ``CORRECTNESS_r*.json``), in registry order — new code is the
   least-evidenced code;
2. oracle-upgraded — the query's most recent driver row is rows-only
   (``hash_match`` null) but the registry now carries an oracle, so a
   hash row is available but never recorded (a small, precisely
   targeted set, so it precedes the broad file-granularity bucket 3);
3. changed since last driver row — the query's defining source file
   has a git commit (or uncommitted working-tree edit) NEWER than the
   newest artifact that carries a row for the query, so whatever the
   driver hashed is not what the repo now runs; the VERDICT-named
   carryover set leads, then STALEST DRIVER ROW FIRST (edit recency
   breaking ties inside a row-round). Round 12 flipped the r8-era
   edit-recency-first order: with ~89 changed names queued behind a
   50-slot artifact (VERDICT r11 item 1), recency-first lets each new
   round's file-sibling churn (whose r11 rows are fresh and whose
   values usually didn't move) starve the r2-era backlog forever,
   while stalest-first drains the backlog monotonically and any
   genuinely value-changed query is pinned by name via
   VERDICT_PRIORITY;
4. everything else by (number of driver rows ascending, round of most
   recent row ascending, name) so plain re-recording slots go to the
   stalest evidence first.

Granularity note for bucket 2: change detection is per FILE (a file
edit flags every query it defines).  That over-approximates — editing
one query re-records its file siblings — but over-recording is free
and under-recording is the round-8 gap this policy closes.

Prints the order as a Python tuple body; ``--write`` writes it to
``python_etl_sample_spark/driver_order.txt`` (one name per line, which
``registry.DRIVER_ORDER`` loads) and snapshots the fingerprints.  Run
from anywhere:

    python tools/gen_driver_order.py [--write]
"""
from __future__ import annotations

import glob
import inspect
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: judge-named carryover (VERDICT r8 item 2): queries whose semantics
#: changed in round 8 without a fresh driver row — pinned to the head
#: of the changed bucket so alphabetical ties inside a large edit
#: batch can never push one past the 50-entry artifact cap. Refresh
#: this tuple from each round's VERDICT; it drains automatically (a
#: name leaves the changed bucket once its post-change row lands).
VERDICT_PRIORITY = (
    # r15: the r14/r13 pins all drained — agg_groupby, project_derive,
    # filter_pred/null/like and case_when each landed a post-change row
    # in CORRECTNESS_r14. The VERDICT r14 item-2 list ("land driver
    # rows for every touched-but-unverified query") is mostly caught by
    # the query-granular fingerprint bucket; the two names below are
    # the exception — their r14 optimization lived in the SHARED
    # total-order kernel (functions/total_order.py), so their defining
    # files never moved and the changed-bucket misses them. Pin both
    # until a row lands.
    "agg_percentile_cont",
    "stats_theil_sen_trend",
)


#: committed per-query fingerprint snapshot (rewritten by --write at
#: each freeze): change detection at QUERY granularity (r14, closing
#: the r8-era "editing one query re-records its file siblings" note —
#: at r14's freeze the file-level rule flagged 64 siblings and would
#: have crowded the genuinely stale r2–r4 backlog out of the 50-slot
#: artifact entirely). Format: {name: {"fp": sha1, "since": round}}
#: where ``since`` is the round at whose freeze the current
#: fingerprint first appeared (0 = bootstrap baseline, r13 tree) — a
#: query stays in the changed bucket until a driver row lands in a
#: round ≥ since, exactly like the old file-epoch rule but per query.
FINGERPRINTS = os.path.join(REPO, "tools", "query_fingerprints.json")

_OPERATORS = "python_etl_sample_spark.operators"

DRIVER_ORDER_FILE = os.path.join(REPO, "python_etl_sample_spark", "driver_order.txt")
_DRIVER_ORDER_HEADER = """\
# Driver-facing query order: one name per line, bucket labels as
# "# --- label ---" lines. Generated by tools/gen_driver_order.py --write;
# loaded by python_etl_sample_spark.registry.DRIVER_ORDER.
"""


def query_fingerprint(spec) -> str:
    """sha1 over the query function's AST + its EXPANDED oracle SQL.

    The AST is ``ast.dump`` of the function with its decorators,
    leading docstring and function-local ``from <operators module>
    import`` statements removed, so registration metadata (``tags=``),
    docstrings, comments, formatting, line numbers and which operator
    module defines a helper — a move of the query or its helpers
    included — never flag a query. The expanded oracle
    (not the f-string source) is what catches helper-driven changes
    (dsum_sql & co. are interpolated at import time); a Spark-side-only
    helper change that alters VALUES necessarily changes the oracle too
    (the pairing rule in functions/determinism.py) or fails
    drive_contract at freeze — so the pair (code, oracle) is a sound
    change signal for evidence-staleness purposes. Perf-only refactors
    that move neither don't flag, which is correct: the driver's hash
    evidence is about values."""
    import ast
    import hashlib
    import textwrap

    class _DropOperatorImports(ast.NodeTransformer):
        def visit_ImportFrom(self, imp):
            return None if (imp.module or "").startswith(_OPERATORS) else imp

    node = ast.parse(textwrap.dedent(inspect.getsource(spec.fn))).body[0]
    node.decorator_list = []
    if ast.get_docstring(node, clean=False) is not None:
        node.body = node.body[1:]
    node = _DropOperatorImports().visit(node)
    return hashlib.sha1(
        (ast.dump(node) + "\x00" + (spec.oracle or "")).encode()
    ).hexdigest()


def _git_epoch(path: str) -> int:
    """Last-commit unix time for ``path``; uncommitted working-tree
    edits count as 'changed right now'."""
    rel = os.path.relpath(path, REPO)
    dirty = subprocess.run(
        ["git", "status", "--porcelain", "--", rel],
        cwd=REPO,
        capture_output=True,
        text=True,
    ).stdout.strip()
    if dirty:
        return int(time.time())
    out = subprocess.run(
        ["git", "log", "-1", "--format=%ct", "--", rel],
        cwd=REPO,
        capture_output=True,
        text=True,
    ).stdout.strip()
    return int(out) if out else 0


def compute_order() -> tuple[list[tuple[str, str]], dict[str, int]]:
    """Returns ([(name, bucket_label)], {bucket_label: count})."""
    from python_etl_sample_spark.registry import (
        REGISTRY,
        canonical_names,
        load_all_operators,
    )

    load_all_operators()

    # per-query driver history: rounds seen + latest row's hash_match
    rounds: dict[str, list[int]] = {}
    latest_row: dict[str, tuple[int, dict]] = {}
    art_epoch: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r[0-9]*.json"))):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        art_epoch[rnd] = _git_epoch(path)
        for name, row in json.load(open(path)).items():
            rounds.setdefault(name, []).append(rnd)
            if name not in latest_row or rnd > latest_row[name][0]:
                latest_row[name] = (rnd, row)

    file_epoch: dict[str, int] = {}

    def _src_epoch(name: str) -> int:
        f = inspect.getsourcefile(REGISTRY[name].fn) or ""
        if f not in file_epoch:
            file_epoch[f] = _git_epoch(f) if f else 0
        return file_epoch[f]

    names = list(canonical_names())
    never = [n for n in names if n not in rounds]
    # upgraded first and SMALL: the last driver row is rows-only but an
    # oracle exists now, so a hash row is available but never recorded —
    # by-design no-oracle queries never match (they have no oracle)
    upgraded = [
        n
        for n in names
        if n in rounds
        and latest_row[n][1].get("hash_match") is None
        and REGISTRY[n].oracle is not None
    ]
    # QUERY-granular change detection (r14): a query is 'changed' iff
    # its (source, expanded-oracle) fingerprint differs from the
    # committed snapshot taken at the last freeze. Falls back to the
    # old file-epoch rule for names absent from the snapshot (first
    # run, or a brand-new query that already has a driver row).
    try:
        snapshot = json.load(open(FINGERPRINTS))
    except (OSError, json.JSONDecodeError):
        snapshot = {}

    def _is_changed(n: str) -> bool:
        entry = snapshot.get(n)
        if entry is None:
            return _src_epoch(n) > art_epoch[latest_row[n][0]]
        return (
            query_fingerprint(REGISTRY[n]) != entry["fp"]
            or latest_row[n][0] < entry["since"]
        )

    changed = [
        n
        for n in names
        if n in rounds and n not in upgraded and _is_changed(n)
    ]
    # stalest driver row first (see module docstring: the round-12
    # flip): the backlog drains oldest-evidence-first, so a bounded
    # number of rounds clears it regardless of how much fresh
    # file-sibling churn each round adds; edit recency (at
    # artifact-round granularity) only breaks ties within a row-round.
    art_rounds = sorted(art_epoch)

    def _edit_round(n: str) -> int:
        e = _src_epoch(n)
        return sum(1 for r in art_rounds if art_epoch[r] <= e)

    changed.sort(
        key=lambda n: (
            n not in VERDICT_PRIORITY,
            latest_row[n][0],
            -_edit_round(n),
            n,
        )
    )
    # VERDICT-pinned names whose files did NOT change still get head
    # slots (round-11 policy): the judge can request fresh evidence for
    # a query — e.g. a floor-drift probe — without its source moving,
    # and bucket-4 ordering would push such names past the 50-cap.
    pinned_extra = [
        n
        for n in VERDICT_PRIORITY
        if n in names
        and n in rounds
        and n not in upgraded
        and n not in changed
        and n not in never
    ]
    # staleness signal for the pin list itself (r9 ADVICE item 2): a
    # pinned name that lands in no head bucket (not changed, not
    # upgraded, not hoisted) is misspelled or unregistered; say which.
    for pin in VERDICT_PRIORITY:
        if (
            pin not in changed
            and pin not in upgraded
            and pin not in pinned_extra
            and pin not in never
        ):
            why = (
                "not a registered query" if pin not in names
                else "unclassifiable — check the pin"
            )
            print(
                f"WARNING: VERDICT_PRIORITY name {pin!r} got no head "
                f"slot ({why})",
                file=sys.stderr,
            )
    head = set(never) | set(changed) | set(upgraded) | set(pinned_extra)
    rest = [n for n in names if n in rounds and n not in head]
    rest.sort(key=lambda n: (len(rounds[n]), max(rounds[n]), n))

    out: list[tuple[str, str]] = []
    out += [(n, f"never driver-recorded ({len(never)})") for n in never]
    out += [
        (n, f"oracle added after last (rows-only) driver row ({len(upgraded)})")
        for n in upgraded
    ]
    out += [
        (n, f"VERDICT-pinned re-evidence ({len(pinned_extra)})")
        for n in pinned_extra
    ]
    out += [
        (n, f"changed since last driver row ({len(changed)})")
        for n in changed
    ]
    for n in rest:
        key = (len(rounds[n]), max(rounds[n]))
        out.append((n, f"{key[0]} driver row(s), last in r{key[1]}"))
    counts = {
        "never": len(never),
        "changed": len(changed),
        "upgraded": len(upgraded),
        "rest": len(rest),
    }
    return out, counts


def render_body(
    order: list[tuple[str, str]],
    label_fmt: str = "    # --- {} ---",
    name_fmt: str = '    "{}",',
) -> str:
    lines: list[str] = []
    last_label = None
    for name, label in order:
        if label != last_label:
            lines.append(label_fmt.format(label))
            last_label = label
        lines.append(name_fmt.format(name))
    return "\n".join(lines)


def write_driver_order(order: list[tuple[str, str]]) -> None:
    with open(DRIVER_ORDER_FILE, "w") as fh:
        fh.write(_DRIVER_ORDER_HEADER)
        fh.write(render_body(order, "# --- {} ---", "{}") + "\n")


def write_fingerprints() -> int:
    """Snapshot every registered query's fingerprint (freeze step —
    run together with the registry rewrite so the next round's changed
    bucket measures drift from THIS tree). ``since`` carries forward
    for unchanged fingerprints and bumps to the round being frozen for
    new/changed ones, so a changed query keeps its slot claim until a
    post-change driver row actually lands."""
    from python_etl_sample_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    try:
        old = json.load(open(FINGERPRINTS))
    except (OSError, json.JSONDecodeError):
        old = {}
    frozen_round = 1 + max(
        (
            int(os.path.basename(p)[len("CORRECTNESS_r"):-len(".json")])
            for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r[0-9]*.json"))
        ),
        default=0,
    )
    fps = {}
    for n in sorted(REGISTRY):
        fp = query_fingerprint(REGISTRY[n])
        prev = old.get(n)
        since = (
            prev["since"]
            if prev is not None and prev["fp"] == fp
            else frozen_round
        )
        fps[n] = {"fp": fp, "since": since}
    with open(FINGERPRINTS, "w") as fh:
        json.dump(fps, fh, indent=0, sort_keys=True)
        fh.write("\n")
    return len(fps)


def main() -> None:
    order, counts = compute_order()
    if "--write" in sys.argv:
        write_driver_order(order)
        n_fp = write_fingerprints()
        print(
            f"driver_order.txt rewritten: {counts['never']} never / "
            f"{counts['changed']} changed / {counts['upgraded']} upgraded / "
            f"{counts['rest']} by (rows, recency); {n_fp} fingerprints "
            f"snapshotted"
        )
    else:
        print(render_body(order))


if __name__ == "__main__":
    main()
