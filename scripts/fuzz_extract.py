"""Large-scale differential fuzz of the fast HTML extractor against the
frozen html.parser reference (the byte-identity gate, BASELINE.json:15).

Random tag soup assembled from an adversarial atom pool — entities split
across inline tags, mixed-case/decorated rawtext closes, attributes,
comments, malformed tags, astral/invalid charrefs, NULs — checked
byte-for-byte: ``extract_text`` (fast scanner + fallback) must equal
``extract_text_reference`` on every document, whichever path it takes.

The in-CI twin is tests/test_extract.py's 300-example hypothesis
property; this script is the heavyweight offline sweep (default 200k
examples, ~2 min). Results are appended as one JSON line so sweeps are
committable evidence (BENCH/fuzz_extract.jsonl).

Usage: python scripts/fuzz_extract.py [N] [SEED] [--json PATH]
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlfe.extract import (  # noqa: E402
    _Fallback, _fast_scan, extract_text, extract_text_reference,
)

ATOMS = [
    "<p>", "</p>", "<b>", "</b>", "<i>", "</i>", "<div>", "</div>",
    "<br/>", "<li>", "</li>", "<P>", "</B>",
    "<script>", "</script>", "</SCRIPT>", "</ script>", "</scr ipt>",
    "<style>", "</style>", "</StYlE>", "<script >", "<script/>",
    "<p class='x'>", "<!-- c -->", "<!DOCTYPE html>", "<?pi?>",
    "&amp;", "&amp", "&am", "p;", "&lt;", "&#65;", "&#x4", "2;",
    "&nbsp;", "&unknown;", "&", "&#", "&#x", ";",
    " ", "\n", "\t", "txt", "a b", "<", ">", "café", "中",
    "</scri", "pt>", "< p>", "<1x>",
    "<noscript>", "</noscript>", "<template>", "</template>",
    "<td>", "</td>", "<pre>", "</pre>", "\x00", "�",
    "<b/>", "</p >", "</b/>", "&quot;", "&QUOT;", "&Amp;",
    "&#1114112;", "&#xD800;", "&#6", "&#x0;",
    # r4: attribute-bearing tags (fast path learned attributes) plus
    # adversarial near-misses that must take the reference fallback
    '<p class="x">', "<div id='y' data-k=\"v\">", "<a href=/about>",
    "<a href=/p/1?a=1&amp;b=2>", "<img src=x.png width=100/>",
    "<input hidden>", '<p a = "b c">', "<p a=1/>", '<p a=">">',
    "<p a='<'>", '<td colspan="2" >', "<p a==b>", "<p a/b>",
    "<p a=b=c>", "<p =x>", '<p "q">', "<p a\x00=1>", "<p\xa0a=1>",
    '<script type="text/javascript">', '<li class=\'it"em\'>',
    '<p data-t="a&amp;b">', "<p a='' b=\"\">", "<br />", "<p a=`v`>",
    # unicode-\s-aware bare-value boundary (the r4-dev divergence class:
    # html.parser ends a bare value at \x0b/\x85/\xa0, so '.../>'
    # becomes a true self-close there — fast path must fall back)
    "<noscript a=b\x0b/>", "<p a=b\xa0/>", "<script a=b\x85/>",
    "<p a=b=c>", "<p a=1,b=2>", '<p a=b"c>', "<p a=>", "<p a=b<c>",
    # edges of the token regex's alternation: comment opens and closes,
    # a marked section, raw-text closes the fast path must not consume,
    # a self-closed raw-text tag, and bare '<?' / '<!'
    "<!--", "<!-->", "--!>", "<![CDATA[x]]>", "</script\xa0>",
    "</script x>", "<SCRIPT>", "<style/>", "<?", "<!",
    # marked sections html.parser's _markupbase rejects (unknown
    # keyword, no name) next to one it knows with the MS ']>' close
    "<![x]>", "<![ ]>", "<![1]>", "<![if x]>",
]


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else 200_000
    seed = int(args[1]) if len(args) > 1 else 12345
    json_path = None
    if "--json" in sys.argv:
        json_path = sys.argv[sys.argv.index("--json") + 1]

    rng = random.Random(seed)
    n_fast = n_fb = diverge = 0
    for i in range(n):
        k = rng.randint(0, 30)
        html = "".join(rng.choice(ATOMS) for _ in range(k)).encode("utf-8")
        ref = extract_text_reference(html)
        got = extract_text(html)
        if ref != got:
            diverge += 1
            print(f"DIVERGE {html[:120]!r}\n  ref={ref[:80]!r}\n  got={got[:80]!r}")
            if diverge > 5:
                break
        try:
            _fast_scan(bytes(html).decode("utf-8", "replace"))
            n_fast += 1
        except _Fallback:
            n_fb += 1
    summary = {
        "examples": n, "seed": seed, "fast_path": n_fast,
        "fallback": n_fb, "diverge": diverge,
        "git": subprocess.run(
            ["git", "describe", "--always", "--dirty"],
            capture_output=True, text=True,
        ).stdout.strip(),
    }
    print(json.dumps(summary))
    if json_path:
        with open(json_path, "a") as f:
            f.write(json.dumps(summary) + "\n")
    return 1 if diverge else 0


if __name__ == "__main__":
    sys.exit(main())
