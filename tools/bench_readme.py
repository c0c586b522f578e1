#!/usr/bin/env python3
"""Render the README's bench-record section FROM the committed payload.

Two consecutive rounds of VERDICT flagged scale-curve prose written from
a different run than the committed ``BENCH_LOCAL.json`` (r8: wrong
worst-entry names; r9: "only two above 6" vs seven).  The fix is
mechanical derivation: this script reads the payload and prints a
markdown block; ``--write`` splices it into README.md between the
``<!-- BENCH_AUTO_BEGIN -->`` / ``<!-- BENCH_AUTO_END -->`` markers.
Run it as the last step before committing a bench record — every number
in the README block is then byte-for-byte the committed payload's.

Usage:
    python tools/bench_readme.py [BENCH_LOCAL.json] [--write]
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

BEGIN = "<!-- BENCH_AUTO_BEGIN -->"
END = "<!-- BENCH_AUTO_END -->"


def render(payload: dict) -> str:
    lines: list[str] = [BEGIN]
    lines.append(
        "### Committed bench record (generated by `tools/bench_readme.py` "
        "— do not hand-edit)"
    )
    q = payload.get("queries", {})
    lines.append(
        f"\n- **Headline**: {payload['value']} {payload['unit']} total over "
        f"{len(q)} queries at sf{payload['sf']}."
    )
    top = sorted(q.items(), key=lambda kv: -kv[1])[:8]
    lines.append(
        "- Heaviest headline entries: "
        + ", ".join(f"`{n}` {v:g} s" for n, v in top)
        + "."
    )
    iso = payload.get("headline_isolated")
    if iso:
        # current shape: {"seconds": {...}, "skipped_budget": [...],
        # "failed": [...]}; earlier rounds stored the flat name → sec dict.
        secs = iso.get("seconds", iso) if isinstance(iso, dict) else {}
        secs = {k: v for k, v in secs.items() if isinstance(v, (int, float))}
        if secs:
            pairs = sorted(secs.items(), key=lambda kv: -kv[1])
            lines.append(
                f"- Fresh-JVM isolated re-measurement of the {len(pairs)} "
                "heaviest entries (min-of-2 in-child): "
                + ", ".join(f"`{n}` {v:g} s" for n, v in pairs)
                + "."
            )
        for key, why in (("skipped_budget", "skipped by wall-clock budget"),
                         ("failed", "failed or timed out in their child")):
            if isinstance(iso, dict) and iso.get(key):
                lines.append(
                    f"- Isolated entries {why}: "
                    + ", ".join(f"`{n}`" for n in iso[key])
                    + "."
                )
    sc = payload.get("scale_10x", {})
    ratios = {k: v for k, v in (sc.get("ratio_vs_base") or {}).items() if v}
    if ratios:
        factor = sc.get("factor", 10)
        worst = sorted(ratios.items(), key=lambda kv: -kv[1])
        over = [(n, r) for n, r in worst if r > factor]
        above6 = [(n, r) for n, r in worst if r > 6]
        lines.append(
            f"- **{factor}× scale curve** ({sc.get('isolation', '?')}): "
            f"{len(ratios)} entries; worst ratio `{worst[0][0]}` "
            f"{worst[0][1]:g}; "
            + (
                f"{len(over)} over the factor: "
                + ", ".join(f"`{n}` {r:g}" for n, r in over)
                if over
                else f"every entry at or under the factor of {factor}"
            )
            + "."
        )
        lines.append(
            f"- Scale ratios above 6: "
            + (
                ", ".join(f"`{n}` {r:g}" for n, r in above6)
                if above6
                else "none"
            )
            + "."
        )
        if sc.get("skipped_budget"):
            lines.append(
                "- Scale entries skipped by wall-clock budget: "
                + ", ".join(f"`{n}`" for n in sc["skipped_budget"])
                + "."
            )
    for blk in ("curation_stages", "pq_stages"):
        if payload.get(blk):
            lines.append(
                f"- `{blk}`: "
                + ", ".join(f"{k} {v:g} s" for k, v in payload[blk].items())
                + "."
            )
    meth = payload.get("methodology")
    if meth:
        lines.append(f"- Methodology block: `{json.dumps(meth, sort_keys=True)}`")
    lines.append(END)
    return "\n".join(lines)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--write"]
    root = Path(__file__).resolve().parent.parent
    payload_path = Path(args[0]) if args else root / "BENCH_LOCAL.json"
    block = render(json.loads(payload_path.read_text()))
    if "--write" in sys.argv:
        readme = root / "README.md"
        text = readme.read_text()
        pat = re.compile(re.escape(BEGIN) + r".*?" + re.escape(END), re.S)
        if pat.search(text):
            text = pat.sub(lambda _m: block, text)
        else:
            text = text.rstrip() + "\n\n" + block + "\n"
        readme.write_text(text)
        print(f"README.md updated from {payload_path}")
    else:
        print(block)


if __name__ == "__main__":
    main()
