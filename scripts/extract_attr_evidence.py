"""Evidence for VERDICT r3 next-round #4: the fast-path HTML extractor
must actually FIRE on attribute-dense (real-web-shaped) HTML, not just
the attribute-free synthetic template, with the pages/s delta recorded
in BENCH.

Runs the frozen byte-identity check plus a timing A/B over two corpora
from the same deterministic generator (crawlfe/synth.py):
  * plain  — attr_frac=0.0 (the pre-r4 template, unchanged bytes)
  * attrs  — attr_frac=0.85 (class/id/href-with-query-string/data-*/
    boolean attributes, quoted and bare values)
and reports fast-path hit rate + pages/s for extract_text (fast scanner
with fallback) vs extract_text_reference (html.parser), appending one
JSON line to BENCH/extract_attr.jsonl.

Usage: python scripts/extract_attr_evidence.py [N_URLS]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlfe.extract import (  # noqa: E402
    _Fallback, _fast_scan, extract_text, extract_text_reference,
)
from crawlfe.synth import SynthConfig, gen_pages_pdf  # noqa: E402


def _measure(name: str, attr_frac: float, n_urls: int, reps: int) -> dict:
    pdf = gen_pages_pdf(SynthConfig(n_urls=n_urls, attr_frac=attr_frac), 0, n_urls)
    blobs = pdf["html"].tolist()
    n_fast = diverge = 0
    for b in blobs:
        if extract_text(b) != extract_text_reference(b):
            diverge += 1
        try:
            _fast_scan(bytes(b).decode("utf-8", "replace"))
            n_fast += 1
        except _Fallback:
            pass
    work = blobs * reps
    t0 = time.perf_counter()
    for b in work:
        extract_text(b)
    t1 = time.perf_counter()
    for b in work:
        extract_text_reference(b)
    t2 = time.perf_counter()
    return {
        "corpus": name,
        "attr_frac": attr_frac,
        "pages": len(blobs),
        "diverge": diverge,
        "fast_hit_rate": round(n_fast / len(blobs), 4),
        "fast_pages_per_s": round(len(work) / (t1 - t0), 1),
        "reference_pages_per_s": round(len(work) / (t2 - t1), 1),
        "speedup": round((t2 - t1) / (t1 - t0), 3),
    }


def main() -> int:
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 800
    out = {
        "git": subprocess.run(
            ["git", "describe", "--always", "--dirty"],
            capture_output=True, text=True,
        ).stdout.strip(),
        "runs": [
            _measure("plain", 0.0, n_urls, 3),
            _measure("attrs", 0.85, n_urls, 3),
        ],
    }
    line = json.dumps(out)
    print(line)
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "extract_attr.jsonl")
    with open(path, "a") as f:
        f.write(line + "\n")
    return 1 if any(r["diverge"] for r in out["runs"]) else 0


if __name__ == "__main__":
    raise SystemExit(main())
