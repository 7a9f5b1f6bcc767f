#!/usr/bin/env python3
"""Exact C1/ftfy divergence measurement (VERDICT r11 #6 / r12 #6).

This sandbox has no ftfy (zero egress; not in any python on the box, not
vendored in the reference checkout) — run this WHERE FTFY IS AVAILABLE:

    pip install ftfy==6.*
    python tools/ftfy_divergence.py <verify_out_dir> <sf_dir>

It reads the engine's own c1_fix_utf8 output (written by graft.Verify:
<verify_out_dir>/c1_fix_utf8.parquet, columns doc_id + cleaned) together
with the source documents table, runs ftfy.fix_text over the raw texts,
and reports the exact disagreement rate plus every differing row.

Without ftfy, COVERAGE.md's "Measured C1/ftfy divergence bound" holds the
committed sound upper bound instead (engagement rate of the heuristic
decision points — the only rows where the two implementations CAN differ).
"""
import sys


def main() -> int:
    try:
        import ftfy  # noqa: F401
    except ImportError:
        print("ftfy is not installed in this environment.")
        print("This sandbox is zero-egress: the exact rate cannot be")
        print("computed here. COVERAGE.md's \"Measured C1/ftfy divergence")
        print("bound\" holds the committed upper bound; run this script")
        print("where `pip install ftfy` works for the exact rate.")
        return 2

    import duckdb

    if len(sys.argv) != 3:
        print(__doc__)
        return 1
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT d.doc_id, d.text, c.cleaned
        FROM parquet_scan('{sf_dir}/documents.parquet') d
        JOIN parquet_scan('{out_dir}/c1_fix_utf8.parquet/*.parquet') c
        USING (doc_id)
        ORDER BY d.doc_id
        """
    ).fetchall()
    diffs = []
    for doc_id, text, engine_fixed in rows:
        # the c1 query appends ' cafe' + combining U+0301 to exercise
        # NFC - mirror the exact pre-composition input
        ftfy_fixed = ftfy.fix_text(
            (text if text is not None else "") + " cafe\u0301")
        if ftfy_fixed != engine_fixed:
            diffs.append((doc_id, text, engine_fixed, ftfy_fixed))
    n = len(rows)
    print(f"rows={n} diverging={len(diffs)} "
          f"rate={100.0 * len(diffs) / max(n, 1):.4f}%")
    for doc_id, text, engine_fixed, ftfy_fixed in diffs[:50]:
        print(f"  doc_id={doc_id}\n    in    ={text!r}"
              f"\n    engine={engine_fixed!r}\n    ftfy  ={ftfy_fixed!r}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
