#!/usr/bin/env python3
"""Regenerate the literal golden-oracle VALUES embedded in the gate
families under src/main/scala/graft/gates (`__LMM_GOLDEN__`-shaped
constants) from a Verify dump.

Usage: run Verify first, then
    python3 tools/gen_goldens.py /tmp/verify_out
and paste each printed SQL fragment into the constant it names, in the
family file that defines it: LmmKinshipGolden / SkatPGolden in
AssocGates.scala, BnGoldenRows in GeneticsGates.scala, the BPE,
quality-classifier and compress-ratio goldens in PipeTextGates.scala
(`grep -rn <Name> src/main/scala/graft/gates` finds any of them).
Values print via Python repr — the
shortest round-trip form — so DuckDB parses back the bit-identical
double and the repr-strict hash gate matches.

Provenance of the numbers themselves: lmm_kinship is independently
reproduced by LmmSpec's dense (non-spectral) REML replay; the SKAT
p-value path's imhofTail is proven exact on closed-form chi-square
mixtures in SkatSpec.
"""
import sys
import duckdb

out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
con = duckdb.connect()


def rows(name, cols):
    df = con.execute(
        f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    out = []
    for _, r in df.iterrows():
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, str):
                vals.append("'" + v.replace("'", "''") + "'")
            elif hasattr(v, "item"):
                v = v.item()
                vals.append(repr(v))
            else:
                vals.append(repr(v))
        out.append("(" + ", ".join(vals) + ")")
    return out


lmm = rows("lmm_kinship", ["contig", "position", "ref", "beta", "chi_sq"])
print("__LMM_GOLDEN__ (paste into LmmKinshipGolden):\n")
print(",\n      |  ".join(lmm))
print()

skat = rows("geno_skat_p", ["id", "p_value"])
print("__SKAT_P_GOLDEN__ (paste into SkatPGolden):\n")
print(", ".join(skat))
print()

bn = rows("balding_nichols", ["position", "p0", "n_alt", "n_het"])
print("__BN_GOLDEN__ (paste into BnGoldenRows):\n")
print(",\n      |  ".join(bn))
print()

bpe_m = rows("pipe_bpe_merges", ["rank", "lhs", "rhs"])
print("__BPE_MERGES_GOLDEN__ (paste into BpeMergesGolden):\n")
print(", ".join(bpe_m))
print()

bpe_e = rows("pipe_bpe_encode", ["doc_id", "n_tokens"])
print("__BPE_ENCODE_GOLDEN__ (paste into BpeEncodeGolden):\n")
print(", ".join(bpe_e))
print()

qc = rows("pipe_quality_classifier", ["doc_id", "p"])
print("__QC_GOLDEN__ (paste into QualityClassifierGolden):\n")
print(", ".join(qc))
print()

cr = rows("pipe_compress_ratio", ["doc_id", "ratio"])
print("__COMPRESS_RATIO_GOLDEN__ (paste into CompressRatioGolden):\n")
print(", ".join(cr))
