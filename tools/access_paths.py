"""Record and compare the dialect's per-query notes over a pytest run.

    python tools/access_paths.py record OUT.jsonl [pytest args ...]
    python tools/access_paths.py diff A.jsonl B.jsonl

`record` runs pytest (default: tests/ -q -p no:cacheprovider) with a
plugin that wraps `HurricaneSQL.sql` and writes one JSON line per call:
the test id, the query text, the positions in `HurricaneSQL._PASSES` of
the passes that changed the query, the notes the passes left (access
path, pruned columns, star-tree redirect, restructure family and how
its qualified refs were handled) and the error class when the call
raised. Pytest's exit code is returned.

`diff` keys each line by (test id, query, occurrence) with uuid-named
views and generated aliases normalised, and prints how many keys both
logs share, how many of those differ, and how many only one log holds,
then every differing key, the restructure counts of each log and its
scan-cache builds and hits (the `scan_cache` notes of the column-pruned
and star-tree scans). A note field that only one log ever records (one
commit added it) is left out of the comparison; the fired passes still
show what changed.
"""

from __future__ import annotations

import collections
import json
import os
import re
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# fresh names the dialect or a test generates per call
_VOLATILE = re.compile(r"[0-9a-f]{32}|__q\d+_[0-9a-f]{8}")


class Recorder:
    """Pytest plugin: wraps HurricaneSQL.sql for the whole session."""

    def __init__(self, out_path: str):
        self.out = open(out_path, "w")
        self.lock = threading.Lock()
        self.test = None
        self.fired = threading.local()

    def pytest_sessionstart(self, session):
        from hurricanedb_spark.sql.dialect import HurricaneSQL

        original = HurricaneSQL.sql
        recorder = self

        def sql(hq, query, *args, **kwargs):
            recorder.fired.passes = []
            error = None
            try:
                return original(hq, query, *args, **kwargs)
            except BaseException as e:
                error = type(e).__name__
                raise
            finally:
                recorder.write(
                    query,
                    recorder.fired.passes,
                    getattr(hq._request, "notes", []),
                    error,
                )

        def watch(pos, rewrite):
            def run(hq, query):
                out = rewrite(hq, query)
                if out[0] != query:
                    recorder.fired.passes.append(pos)
                return out

            return run

        HurricaneSQL.sql = sql
        HurricaneSQL._PASSES = tuple(
            watch(pos, rewrite) for pos, rewrite in enumerate(HurricaneSQL._PASSES)
        )

    def pytest_runtest_logstart(self, nodeid, location):
        self.test = nodeid

    def pytest_sessionfinish(self, session, exitstatus):
        self.out.close()

    def write(self, query: str, fired: list, notes: list, error: str | None) -> None:
        line = json.dumps(
            {
                "test": self.test,
                "query": query,
                "fired": fired,
                "notes": notes,
                "error": error,
            },
            default=repr,
            sort_keys=True,
        )
        with self.lock:
            self.out.write(line + "\n")


def record(out_path: str, pytest_args: list[str]) -> int:
    import pytest

    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    args = pytest_args or ["tests/", "-q", "-p", "no:cacheprovider"]
    return int(pytest.main(args, plugins=[Recorder(out_path)]))


def _load(path: str) -> dict:
    """(test, normalised query, occurrence) -> record."""
    out: dict = {}
    seen: collections.Counter = collections.Counter()
    with open(path) as f:
        for line in f:
            rec = json.loads(_VOLATILE.sub("#", line))
            key = (rec["test"], rec["query"])
            seen[key] += 1
            out[(*key, seen[key])] = rec
    return out


def _fields(log: dict) -> set:
    return {f for rec in log.values() for note in rec["notes"] for f in note}


def _view(rec: dict, fields: set):
    notes = [{f: v for f, v in n.items() if f in fields} for n in rec["notes"]]
    return rec["fired"], [n for n in notes if n], rec["error"]


def _counts(log: dict, *fields: str) -> collections.Counter:
    """How often each value of `fields` occurs in the log's notes."""
    return collections.Counter(
        tuple(note[f] for f in fields)
        for rec in log.values()
        for note in rec["notes"]
        if fields[0] in note
    )


def diff(a_path: str, b_path: str) -> int:
    logs = _load(a_path), _load(b_path)
    fields = _fields(logs[0]) & _fields(logs[1])
    a, b = ({k: _view(rec, fields) for k, rec in log.items()} for log in logs)
    shared = a.keys() & b.keys()
    differ = sorted(k for k in shared if a[k] != b[k])
    print(
        f"shared {len(shared)}  differ {len(differ)}  "
        f"only in A {len(a.keys() - b.keys())}  only in B {len(b.keys() - a.keys())}"
    )
    for k in differ:
        print(f"\n{k[0]} #{k[2]}\n  {k[1]}\n  A: {a[k]}\n  B: {b[k]}")
    for name, log in zip("AB", logs):
        counts = ", ".join(
            f"{fam}/{refs}: {n}" for (fam, refs), n in sorted(
                _counts(log, "restructure", "refs").items(), key=lambda kv: repr(kv[0])
            )
        )
        print(f"\nrestructures in {name}: {counts or 'none'}")
        cache = _counts(log, "scan_cache")
        print(f"scan cache in {name}: build {cache[('build',)]}, hit {cache[('hit',)]}")
    return 0


def main(argv: list[str]) -> int:
    if len(argv) >= 2 and argv[0] == "record":
        return record(argv[1], argv[2:])
    if len(argv) == 3 and argv[0] == "diff":
        return diff(argv[1], argv[2])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
