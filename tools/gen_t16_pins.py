#!/usr/bin/env python3
"""Regenerate the t16_compress_profile oracle pins.

The t16 oracle (in src/main/scala/graft/gates/TextAnalysisGates.scala) carries a spec-pinned constant
table of expected per-lang deflate profiles, because DuckDB has no
DEFLATE. The pins are generated by CPython's zlib (level 1, raw
stream) — an implementation independent of the JDK Deflater the
engine's DeflateSizeExpr kernel uses, verified byte-identical — and
keyed by (corpus byte total, lang, live n_docs) so a changed corpus
FAILS the join loudly instead of matching stale constants.

If the test data is regenerated and t16 starts failing with rows=5/0,
rerun this script and paste its output over the VALUES block of the
t16_compress_profile gate's oracle.

Replays the engine's exact numeric path: ratio = zlen/blen as IEEE
double, per-doc cast to DECIMAL(38,18) (HALF_UP), exact decimal sum,
cast back to double, divide by count, round 6 (HALF_UP).
"""
import sys
import zlib
import duckdb
from decimal import Decimal, ROUND_HALF_UP


def profile(sf):
    con = duckdb.connect()
    rows = con.execute(
        f"select lang, text from read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    agg, total_bytes = {}, 0
    for lang, text in rows:
        b = text.encode("utf-8")
        total_bytes += len(b)
        co = zlib.compressobj(1, zlib.DEFLATED, -15)  # level 1, raw deflate
        z = len(co.compress(b) + co.flush())
        ratio = z / len(b)
        a = agg.setdefault(lang, {"n": 0, "s": Decimal(0),
                                  "mn": None, "mx": None, "rep": 0})
        a["n"] += 1
        a["s"] += Decimal(repr(ratio)).quantize(Decimal("1e-18"), ROUND_HALF_UP)
        a["mn"] = ratio if a["mn"] is None else min(a["mn"], ratio)
        a["mx"] = ratio if a["mx"] is None else max(a["mx"], ratio)
        if ratio < 0.35:
            a["rep"] += 1

    def r6(d):
        return float(Decimal(repr(d)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    def lit(v):
        s = repr(v)
        return s if "e" in s else s + "e0"  # force DOUBLE parse in DuckDB

    out = []
    for lang in sorted(agg):
        a = agg[lang]
        avg = float(a["s"]) / a["n"]
        out.append(f"({total_bytes},'{lang}',{a['n']},{lit(r6(avg))},"
                   f"{lit(r6(a['mn']))},{lit(r6(a['mx']))},{a['rep']})")
    return out


def main():
    sfs = sys.argv[1:] or ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
                           "/root/testdata/sf0.1"]
    rows = []
    for sf in sfs:
        rows.extend(profile(sf))
    print(",\n".join(rows))


if __name__ == "__main__":
    main()
