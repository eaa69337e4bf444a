"""Regenerate tests/_ported_scenarios.py from the reference's declarative
integration suite (reference: tests/integration/scenarios.json).

Usage: python tools/port_scenarios.py [path-to-scenarios.json]

The default source path (DEFAULT_SRC) points into a checkout of the
reference server. It is read only to regenerate the scenarios; the test
suite runs from the committed tests/_ported_scenarios.py alone.

Port rules (mirroring tests/integration/{runner.rs,auth_helper.rs}):
- auth configs with bypass_auth=false carry the initial admin credentials
  and an `auth_enforced` marker; everything else runs as the bypass
  principal;
- WAL configs where the log is off, or buffered without flush-each-write,
  map to `wal_disabled` (unsynced buffered writes do not survive a kill,
  so the observable restart behavior equals wal-off);
- command text and matchers are carried verbatim — the runner in
  tests/test_ported_scenarios.py interprets them.
"""

from __future__ import annotations

import json
import os
import sys

DEFAULT_SRC = "/root/reference/tests/integration/scenarios.json"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "_ported_scenarios.py")

HEADER = [
    "# Ported from the reference's declarative integration suite",
    "# (reference: tests/integration/scenarios.json, ALL portable scenarios;",
    "# matcher semantics from tests/integration/matcher.rs: substring/regex",
    "# checks over the full concatenated session output; auth preprocessing",
    "# from tests/integration/{runner.rs,auth_helper.rs}).",
    "# Regenerate with: python tools/port_scenarios.py",
    "",
    "SCENARIOS = [",
]


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SRC
    with open(src) as f:
        scenarios = json.load(f)
    lines = list(HEADER)
    for x in scenarios:
        matchers = x.get("matchers") or [x["matcher"]]
        cfg = x.get("config") or {}
        keep_cfg: dict = {}
        auth = cfg.get("auth") or {}
        if auth.get("bypass_auth") is False:
            keep_cfg["auth"] = {
                k: auth[k]
                for k in ("initial_admin_user", "initial_admin_key")
                if k in auth
            }
            keep_cfg["auth_enforced"] = True
        wal = cfg.get("wal") or {}
        if wal.get("enabled") is False or (
            wal.get("buffered") and wal.get("flush_each_write") is False
        ):
            keep_cfg["wal_disabled"] = True
        lines.append("    (")
        lines.append(f"        {x['name']!r},")
        lines.append("        [")
        for c in x["input_commands"]:
            lines.append(f"            {c!r},")
        lines.append("        ],")
        lines.append("        [")
        for m in matchers:
            lines.append(f"            ({m['kind']!r}, {m['value']!r}),")
        lines.append("        ],")
        lines.append(f"        {keep_cfg!r},")
        lines.append("    ),")
    lines.append("]")
    with open(DST, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {len(scenarios)} scenarios -> {DST}")


if __name__ == "__main__":
    main()
