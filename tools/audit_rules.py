"""Mechanical publisher-rule auditor: diff our rule modules against the
reference parsers on the surfaces that can drift silently —
selector/regex string literals, ld/meta/xpath key multisets, and
version boundaries. Used by the round-7 full-coverage sweep
(SURVEY §8.10); flags are STARTING POINTS for manual review, not
verdicts (multi-line literals, import aliases, and shared-constant
factoring all show up as benign deltas — and control-flow drift like
the rbb24 summary-trim finding is invisible here by construction).

Usage: python tools/audit_rules.py <rule_name> [...]
       python tools/audit_rules.py --all
"""

from __future__ import annotations

import glob
import os
import re
import sys
from collections import Counter

REF_GLOB = "/root/reference/src/fundus/publishers/*/{name}.py"
OURS = "/root/repo/fundus_spark/rules/{name}.py"

#: _common.py factory -> (key kind, default key when called bare); the
#: factories taking a selector, or nothing, read no key (kind None)
FACTORY_DEFAULTS = {
    "authors_from_ld": ("bf_search", "author"),
    "authors_from_ld_path": ("xpath_search", None),
    "authors_from_meta": ("meta.get", None),
    "authors_from_nodes": (None, None),
    "date_from_ld": ("bf_search", "datePublished"),
    "date_from_ld_path": ("xpath_search", None),
    "date_from_meta": ("meta.get", None),
    "title_from_meta": ("meta.get", "og:title"),
    "title_from_ld": ("bf_search", "headline"),
    "title_from_ld_path": ("xpath_search", None),
    "title_from_root": (None, None),
    "topics_from_meta": ("meta.get", "keywords"),
    "topics_from_ld": ("bf_search", "keywords"),
    "topics_from_nodes": (None, None),
}


def _strip_comments(src: str) -> str:
    return re.sub(r"(?m)^\s*#.*$", "", src)


def sel_strings(path: str) -> list:
    """Every XPath(...)/CSSSelector(...)/re.compile(...) literal,
    multi-line implicit concatenation collapsed."""
    src = _strip_comments(open(path).read())
    res = []
    for m in re.finditer(r'(XPath|CSSSelector)\(\s*((?:"(?:[^"\\]|\\.)*"\s*)+)', src):
        res.append("".join(re.findall(r'"((?:[^"\\]|\\.)*)"', m.group(2))))
    for m in re.finditer(r"(XPath|CSSSelector)\(\s*((?:'(?:[^'\\]|\\.)*'\s*)+)", src):
        res.append("".join(re.findall(r"'((?:[^'\\]|\\.)*)'", m.group(2))))
    for m in re.finditer(r're\.compile\(\s*r?((?:"(?:[^"\\]|\\.)*")|(?:\'(?:[^\'\\]|\\.)*\'))', src):
        res.append(m.group(1)[1:-1])
    return sorted(res)


def _direct_keys(src: str) -> list:
    out = []
    for kind, pat in (
        ("bf_search", r'bf_search\(\s*"([^"]*)"'),
        ("meta.get", r'meta\.get\(\s*"([^"]*)"'),
        ("xpath_search", r'xpath_search\(\s*"([^"]*)"'),
    ):
        out += [(kind, k) for k in re.findall(pat, src)]
    return out


def key_multiset(path: str, resolve_factories: bool = False) -> Counter:
    src = _strip_comments(open(path).read())
    out = _direct_keys(src)
    if resolve_factories:
        for fac, (kind, default) in FACTORY_DEFAULTS.items():
            if kind is None:
                continue
            for m in re.finditer(r'\b' + fac + r'\(\s*(?:(?:key|query)\s*=\s*)?(?:"([^"]*)")?', src):
                if m.group(1) is not None:
                    out.append((kind, m.group(1)))
                elif default is not None:
                    out.append((kind, default))
    return Counter(out)


def boundaries(path: str) -> list:
    src = open(path).read()
    return sorted(re.findall(r"(?:VALID_UNTIL = |valid_until=)(?:datetime\.)?date\((\d+), ?(\d+), ?(\d+)\)", src))


def audit(name: str) -> str:
    hits = glob.glob(REF_GLOB.format(name=name))
    if not hits:
        return f"{name}: NO REFERENCE FILE"
    rp, op = hits[0], OURS.format(name=name)
    if not os.path.exists(op):
        return f"{name}: NO RULE MODULE"
    rs, os_ = sel_strings(rp), sel_strings(op)
    sd = [s for s in rs if s not in os_] + ["OURS:" + s for s in os_ if s not in rs]
    rk = key_multiset(rp)
    ok = key_multiset(op, resolve_factories=True)
    kd = list((rk - ok).elements()) + [("OURS",) + t for t in (ok - rk).elements()]
    bd = [b for b in boundaries(rp) if b not in boundaries(op)] + [
        ("OURS",) + b for b in boundaries(op) if b not in boundaries(rp)
    ]
    status = "CLEAN" if not (sd or kd or bd) else "FLAGS"
    parts = [f"{name}: {status}"]
    if sd:
        parts.append(f"  selectors: {sd[:4]}")
    if kd:
        parts.append(f"  keys: {kd[:6]}")
    if bd:
        parts.append(f"  boundaries: {bd[:4]}")
    return "\n".join(parts)


def main() -> None:
    names = sys.argv[1:]
    if names == ["--all"]:
        names = sorted(
            os.path.basename(f)[:-3]
            for f in glob.glob(OURS.format(name="*"))
            if not os.path.basename(f).startswith(("_", "generic", "synthetic", "search"))
        )
    for n in names:
        print(audit(n))


if __name__ == "__main__":
    main()
