"""Driver-row staleness audit + TIER1 prefix generator.

Round-8 verdict ask #2: the 303-entry "every entry has a green driver
row" claim rests on hand-curated TIER1 rotation. This script replaces
the hand curation with a computed guarantee:

1. Map every registry entry to its implementing module via the
   registered function's ``__code__.co_filename`` (registrations are
   direct function references, never lambdas — checked here).
2. Find each module's last-change time: the newest git commit touching
   it, or "now" if the working tree has uncommitted edits to it.
3. Find each entry's newest green CORRECTNESS_r*.json row and the
   commit time of that round's correctness file.
4. An entry is STALE if its module changed after its newest green
   driver row (or if it has no row at all — a new entry).
5. Emit the next round's 50-slot TIER1 prefix: stale entries first
   (no-row entries lead, then oldest-row-first), then the remaining
   slots filled oldest-row-first across the fresh entries so row age
   keeps draining.

Usage::

    python scripts/staleness.py            # report + generated prefix
    python scripts/staleness.py --check    # exit 1 if any entry has
                                           # no green row at all

The report line ``max_row_age_rounds`` feeds SURVEY §14.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PREFIX_SLOTS = 50


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=False
    ).stdout.strip()


def _load_rounds() -> list[tuple[int, dict, int]]:
    """(round, rows, commit_epoch) for every CORRECTNESS_r*.json."""
    out = []
    for fn in sorted(os.listdir(REPO)):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fn)
        if not m:
            continue
        with open(os.path.join(REPO, fn)) as f:
            rows = json.load(f)
        ct = _git("log", "-1", "--format=%ct", "--", fn)
        if not ct:
            # uncommitted/untracked round file (git log empty): fall back
            # to the file's mtime instead of epoch 0, mirroring the
            # dirty-source handling — otherwise every row it greens
            # looks infinitely old and the generated TIER1 is garbage
            # (round-9 advice).
            ct = str(int(os.path.getmtime(os.path.join(REPO, fn))))
        out.append((int(m.group(1)), rows, int(ct)))
    return sorted(out)


def _green(row: dict) -> bool:
    # full-oracle rows carry hash_match; rows-only rows carry rows>=0
    if row.get("err"):
        return False
    if "hash_match" in row and row["hash_match"] is not None:
        return bool(row["hash_match"])
    if "rows_match" in row:
        return bool(row["rows_match"])
    # fail-stale: a row with no outcome fields at all (no err, no
    # hash_match, no rows_match, no spark_rows) must never certify an
    # entry as driver-checked (round-9 advice)
    return "spark_rows" in row and row["spark_rows"] >= 0


def _closure(fn) -> set:
    """Transitive set of in-package functions reachable from ``fn``
    via global-name references (helpers like dedup._content_reps whose
    edits change an entry's behavior without touching the entry fn)."""
    import types

    seen, todo = set(), [fn]
    while todo:
        f = todo.pop()
        if isinstance(f, type):
            # in-package class (e.g. a StatefulProcessor): trace its
            # methods — editing one changes entry behavior just like
            # editing a helper function (round-9 review find)
            if f in seen or not getattr(f, "__module__", "").startswith(
                "backend_model_spark"
            ):
                continue
            seen.add(f)
            todo.extend(
                m for m in vars(f).values()
                if callable(m) or isinstance(m, (staticmethod, classmethod))
            )
            continue
        if isinstance(f, (staticmethod, classmethod)):
            f = f.__func__
        if f in seen or not hasattr(f, "__code__"):
            continue
        seen.add(f)
        g = getattr(f, "__globals__", {})
        names = set(f.__code__.co_names)
        # nested code objects (lambdas/inner defs) contribute names too
        stack = [f.__code__]
        while stack:
            co = stack.pop()
            for const in co.co_consts:
                if isinstance(const, types.CodeType):
                    names.update(const.co_names)
                    stack.append(const)
        for n in names:
            obj = g.get(n)
            if obj is None:
                continue
            if isinstance(obj, types.ModuleType) and obj.__name__.startswith(
                "backend_model_spark"
            ):
                for attr in names & set(vars(obj)):
                    o2 = getattr(obj, attr)
                    if callable(o2) and getattr(o2, "__module__", "").startswith(
                        "backend_model_spark"
                    ):
                        todo.append(o2)
            elif callable(obj) and getattr(obj, "__module__", "").startswith(
                "backend_model_spark"
            ):
                todo.append(obj)
    return seen


def _span_mtime(fn, dirty: set[str], cache: dict) -> int:
    """Last-change epoch of ``fn``'s source span via ``git log -L``;
    'now' if its file has uncommitted edits (spans may have shifted)."""
    import inspect

    try:
        path = os.path.abspath(inspect.getsourcefile(fn) or "")
        lines, start = inspect.getsourcelines(fn)
    except (OSError, TypeError):
        # unreadable source: FAIL-STALE ("changed now"), never fresh
        return int(time.time())
    rel = os.path.relpath(path, REPO)
    if rel in dirty:
        return int(time.time())
    key = (rel, start, start + len(lines) - 1)
    if key not in cache:
        ct = _git(
            "log", "-1", "--format=%ct", "--no-patch",
            f"-L{key[1]},{key[2]}:{rel}",
        )
        # FAIL-STALE on any git -L failure (rename not followed,
        # invalid span, old git): an error must surface as "this
        # entry needs a driver row", never as "nothing changed" —
        # the fail-open direction would silently void the guarantee
        # the generated rotation exists to provide (round-9 review)
        cache[key] = int(ct) if ct.strip().isdigit() else int(time.time())
    return cache[key]


def audit() -> dict:
    from backend_model_spark.plans import registry

    qs = registry.queries()

    # 1-2: entry -> implementing file + function-closure last-change.
    # Function granularity (git log -L over each reachable in-package
    # function's span) so a touched module doesn't mark ALL its
    # entries stale — only entries whose own call closure changed.
    dirty = set(
        p
        for cmd in (
            ("diff", "--name-only", "HEAD"),
            ("ls-files", "--others", "--exclude-standard"),
        )
        for p in _git(*cmd).splitlines()
        if p.endswith(".py")
    )
    span_cache: dict = {}
    file_mtime: dict[str, int] = {}
    entry_file: dict[str, str] = {}
    entry_change: dict[str, int] = {}
    for name, fn in qs.items():
        path = os.path.abspath(fn.__code__.co_filename)
        entry_file[name] = os.path.relpath(path, REPO)
        if path not in file_mtime:
            if entry_file[name] in dirty:
                file_mtime[path] = int(time.time())
            else:
                ct = _git("log", "-1", "--format=%ct", "--", path)
                file_mtime[path] = int(ct) if ct else int(time.time())
        entry_change[name] = max(
            (_span_mtime(f, dirty, span_cache) for f in _closure(fn)),
            default=file_mtime[path],
        )

    # 3: newest green row per entry
    rounds = _load_rounds()
    latest_round = rounds[-1][0] if rounds else 0
    newest: dict[str, tuple[int, int]] = {}  # entry -> (round, epoch)
    for rnd, rows, ct in rounds:
        for name, row in rows.items():
            if name in qs and _green(row):
                newest[name] = (rnd, ct)

    # 4: staleness. "hard": the entry's own function closure changed
    # after its newest green row (or it has no row). "soft": only the
    # containing FILE changed — other entries' code; tracked for the
    # fill order but not flagged.
    entries = []
    for name in qs:
        rnd, row_ct = newest.get(name, (0, 0))
        hard = rnd == 0 or entry_change[name] > row_ct
        soft = file_mtime[os.path.join(REPO, entry_file[name])] > row_ct
        entries.append(
            {
                "name": name,
                "file": entry_file[name],
                "last_round": rnd,
                "row_age_rounds": (latest_round - rnd) if rnd else None,
                "stale": hard,
                "file_changed": soft and not hard,
            }
        )

    # 5: generated prefix bands (changed-first, then AGE STRICTLY
    # DOMINATES — round-10 verdict ask #3: the old ordering let
    # file-changed-only entries with fresh rows displace genuinely
    # old rows, so the r2-r4 age tail never drained at 50 slots/round):
    #   0 new entries with no driver row at all
    #   1 changed THIS round (after the latest correctness commit) —
    #     schema-risk; the driver must re-prove them now
    #   2 other hard-stale (shared-helper drift since their old row)
    #   3 EVERYTHING ELSE oldest-row-first — file-changed-only status
    #     no longer outranks row age (it only breaks ties within a
    #     round cohort)
    latest_ct = rounds[-1][2] if rounds else 0
    for e in entries:
        e["changed_this_round"] = entry_change[e["name"]] > latest_ct

    def band(e):
        if e["stale"]:
            b = 0 if not e["last_round"] else (1 if e["changed_this_round"] else 2)
        else:
            b = 3
        return (b, e["last_round"], not e["file_changed"], e["name"])

    ordered = sorted(entries, key=band)
    prefix = [e["name"] for e in ordered[:PREFIX_SLOTS]]

    ages = [e["row_age_rounds"] for e in entries if e["row_age_rounds"] is not None]
    return {
        "total_entries": len(entries),
        "latest_round": latest_round,
        "never_checked": sorted(e["name"] for e in entries if not e["last_round"]),
        "stale": [e["name"] for e in ordered if e["stale"]],
        "file_changed": [e["name"] for e in ordered if e["file_changed"]],
        "max_row_age_rounds": max(ages) if ages else None,
        "prefix": prefix,
        "entries": entries,
    }


def main() -> None:
    rep = audit()
    print(
        f"entries={rep['total_entries']} latest_round=r{rep['latest_round']} "
        f"never_checked={len(rep['never_checked'])} stale={len(rep['stale'])} "
        f"max_row_age_rounds={rep['max_row_age_rounds']}"
    )
    if rep["never_checked"]:
        print("never checked:", ", ".join(rep["never_checked"]))
    if rep["stale"]:
        print("stale (module changed after newest green row):")
        for n in rep["stale"]:
            e = next(x for x in rep["entries"] if x["name"] == n)
            print(f"  {n}  (last green r{e['last_round']}, {e['file']})")
    print(f"\n# generated TIER1 prefix ({PREFIX_SLOTS} slots) — paste into catalog.py:")
    print("TIER1 = [")
    for n in rep["prefix"]:
        print(f'    "{n}",')
    print("]")
    if "--check" in sys.argv and rep["never_checked"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
