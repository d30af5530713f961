"""Mechanical exit-seal freshness check (VERDICT r10 task 3).

Two rounds running (r9: c8a483b, r10: 2713e2e) the round notes' pasted
"files changed since the battery commit" sentence went stale because a
commit landed AFTER the sentence was written. The fix: the notes
record the battery commit hash machine-readably, and THIS tool —
run as the LAST step before the final commit, and cheap enough to
re-run after any amendment — recomputes the diff and fails unless the
notes account for every runtime-surface file in it.

Notes contract (in ROUND{N}_NOTES.md):
    battery-commit: <full or short hash>        (required, exactly one)
    amendment: <path> — <why no re-battery is needed>   (0+ lines)

Rules:
- `git diff --name-only <battery>..HEAD` plus uncommitted/staged
  changes (the final commit will include them) is the ground truth.
- Runtime-surface paths (engine/, tools/, bench.py,
  __spark_entry__.py) appearing in that diff MUST each have an
  `amendment:` line naming them — otherwise the batteries predate the
  code and the seal claim is false.
- Test/docs/artifact paths (tests/, *.md, *.json) are listed for the
  paste but never fail the check.
- The notes file itself is always exempt (writing the seal sentence
  can't invalidate it).

Usage: python tools/seal_check.py ROUND11_NOTES.md
Exit 0 = seal sentence is accurate; prints the diff block to paste.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNTIME = re.compile(r"^(engine/|tools/|bench\.py$|__spark_entry__\.py$)")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, check=True
    ).stdout


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__)
        return 2
    # Accept both `ROUND12_NOTES.md` and its absolute path
    # (r11 verdict hit a FileNotFoundError on the absolute form) —
    # normalize to the repo-relative name, which is also what the
    # changed-file exemption below compares against.
    notes_path = os.path.relpath(os.path.join(REPO, sys.argv[1]), REPO)
    notes_file = os.path.join(REPO, notes_path)
    if notes_path.startswith("..") or not os.path.exists(notes_file):
        print(f"FAIL: notes file not found under {REPO}: {sys.argv[1]}")
        return 2
    notes = open(notes_file).read()

    hashes = re.findall(r"^battery-commit:\s*([0-9a-f]{7,40})\s*$", notes, re.M)
    if len(hashes) != 1:
        print(f"FAIL: expected exactly one 'battery-commit: <hash>' line "
              f"in {notes_path}, found {len(hashes)}")
        return 1
    battery = hashes[0]
    amended = set(re.findall(r"^amendment:\s*(\S+)", notes, re.M))

    # NUL-delimited listings (-z) so paths with spaces or git-escaped
    # characters can't be mis-split into phantom entries (r11 ADVICE).
    committed = [
        p for p in _git("diff", "--name-only", "-z", f"{battery}..HEAD").split("\0")
        if p
    ]
    pending = []
    porcelain = _git("status", "--porcelain", "-z").split("\0")
    i = 0
    while i < len(porcelain):
        entry = porcelain[i]
        i += 1
        if not entry:
            continue
        # `<XY> <path>`; for renames/copies the ORIGINAL path follows
        # as its own NUL-terminated field — skip it, the new path is
        # the one the final commit will contain. A rename can be
        # reported in EITHER column (X = index, Y = worktree), so
        # check both or the orig-path field leaks in as a phantom
        # entry (r12 review).
        pending.append(entry[3:])
        if len(entry) >= 2 and (entry[0] in "RC" or entry[1] in "RC"):
            i += 1
    changed = sorted(set(committed) | set(pending))
    changed = [f for f in changed if f != notes_path]

    runtime = [f for f in changed if RUNTIME.match(f)]
    passive = [f for f in changed if not RUNTIME.match(f)]
    unaccounted = [f for f in runtime if f not in amended]

    print(f"battery commit: {battery}")
    print(f"changed since battery ({len(changed)} files):")
    for f in changed:
        tag = ("RUNTIME+amended" if f in amended else
               "RUNTIME-UNACCOUNTED" if f in runtime else "passive")
        print(f"  [{tag}] {f}")
    if unaccounted:
        print(f"\nFAIL: runtime-surface files changed after the battery "
              f"commit with no amendment line: {unaccounted}\n"
              f"Either re-run the batteries (new battery-commit) or add "
              f"'amendment: <path> — <why>' lines to {notes_path}.")
        return 1
    print("\nOK: every runtime-surface change since the battery commit "
          "is accounted for.")
    return 0


if __name__ == "__main__":
    sys.exit(main())
