#!/usr/bin/env python3
"""Synthesize an N-times scale probe from the driver's sf0.1 tables.

Two modes (FACTOR 10 in replica mode is the sf1 probe):

REPLICA mode (default): fact tables are replicated FACTOR times with a
10^7 id stride per replica; dimension tables are copied once, so
fact->dim joins fan out FACTOR-fold like a real scale-up. Text/content
is NOT varied per replica: cross-replica exact duplication is the worst
case for the dedup family. This makes any operator whose OUTPUT is
per-pair/per-cluster grow quadratically in FACTOR by contract - that is
the fixture measuring the dedup operators' skew resilience, not a flaw.

DISTINCT mode (--distinct): the corpus grows by NEW distinct content
instead of duplication. Each document replica r >= 1 suffixes every
word with "_q<r>" (deterministic, seedless), so its shingle set shares
nothing across replicas - TEXT near-dup/containment/fuzzy pair outputs
grow LINEARLY in FACTOR, which is what lets the text probes separate an
operator's compute scaling from its output contract (the replica
fixture cannot: there the pair-census tail is quadratic by
construction). n_chars is recomputed for the transformed text.

Embedding replica r = a + dim*b (a = r % dim, b = r // dim) is the base
vector CIRCULARLY ROTATED by (a + 17*b) % dim components and
SIGN-FLIPPED by the product of Walsh pattern a and a j-scrambled Walsh
pattern b (component j negated iff popcount(j & a) + popcount(((j*q +
a) % dim) & b) is odd, with q = 5 for b >= 2 else 1). Every replica map
is a signed permutation - an exact isometry, so norms and every
WITHIN-replica cosine relation are preserved bit-meaningfully - and the
maps are pairwise distinct for ALL r < dim^2 (4096 at dim 64), VERIFIED
EXHAUSTIVELY by tools/proto_decade.py isocheck (the round-15 claim that
the q=1 form separates blocks was FALSE: round-15 ADVICE found replicas
(a, b) and (a-4, b+4) coincide whenever a = 4 mod 8 - rotation shifts
by 17*4 = 68 = 4 mod 64 while the sign factors W_a = W_{a-4} x W_4 and
the b-shift (j + a) realign exactly; first collision r=4 vs r=256, 57
pairs under the 900 cap. q = 5 makes the b-term sample Walsh(b) along a
DIFFERENT j-permutation than the a-term, which no (a-4, b+4) slide can
re-align; q is identity for b <= 1, i.e. for every committed fixture).
For r < dim the map reduces to the original round-13 family (b = 0), so
fixtures at factors <= 64 are bit-identical to ones made by the old
generator and the committed 30/40/60/100xd decade points (max replica
99, b <= 1) stay comparable.

CROSS-REPLICA CONTRACT (corrected by round-15 measurement - the round-13
header claimed cross-replica dots "cancel term-wise"; they do not, and
CANNOT): on this near-isotropic 64-dim corpus, cross-replica cosines
under ANY isometry family are ~N(0, 1/64) (sigma = 1/8), so at a
threshold t the cross pair census is the Gaussian tail of ALL cross
pairs: measured 1947 qualifying pairs at t=0.4 between replicas 0x1 of
the COMMITTED sfx30d (max cos 0.61; prediction 4M pairs x Phibar(3.2) ~
2.7k). Even the BASE corpus's 920 pairs at t=0.4 are this same tail
(2M pairs x ~4.9e-4) - there is no planted structure above the tail at
that threshold. Consequence: at (dim=64, t=0.4) the qualifying-pair
census grows QUADRATICALLY in total rows for ANY distinct growth mode -
a property of the operator's threshold regime (the light-bulb-problem
note at SimilarityOps.embeddingNearDup), not a generator artifact; a
real isotropic corpus of the same size behaves identically. The tail
dies fast in t: replicas 0x1 measured 62 pairs at t>=0.5, 1 at t>=0.6,
0 at t>=0.75 - so LINEAR pair sets exist only for t >= ~0.6 probes.
What the fixture DOES guarantee at any factor < dim^2: distinct-vector
count = FACTOR x base distinct count (no artificial exact duplicates),
within-replica pair structure isometric to the base, and the same
tail-rate contract as real data. Other fact tables carry no content, so
distinct mode replicates them exactly as replica mode does.

Key math: base keys top out below 10^6 and the stride is 10^7, so keys
stay corpus-unique for any factor; the <= 900 bound below is only a
conservative sanity cap (900 * 10^7 still sits far inside BIGINT),
nothing breaks at 901.

This is a PERFORMANCE fixture only - correctness gates always run
against the driver's own testdata.

Usage: python3 tools/make_sfN.py FACTOR [out_dir] [--distinct]
       Default out_dir is /root/repo/.bench/sfx{FACTOR}[d] - named by the
       factor itself so two factors can never silently overwrite each
       other (the old sf{FACTOR//10} default collided within a decade;
       the round-9 fixtures sf1/sf10/sf50 made with it are kept as-is).
"""
import os, sys
import duckdb

SRC = "/root/testdata/sf0.1"
STRIDE = 10_000_000

# table -> columns to offset per replica
OFFSETS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "lineitem": ["l_orderkey"],
}
DIMS = ["region", "nation", "supplier", "part"]

# --distinct content rewrites (r = replica index; r=0 keeps the original)
DISTINCT_EXPRS = {
    "documents": {
        "text": ("CASE WHEN r.r = 0 THEN text ELSE array_to_string("
                 "list_transform(string_split(text, ' '), "
                 "x -> x || '_q' || r.r), ' ') END"),
        # recomputed over the transformed text
        "n_chars": ("CASE WHEN r.r = 0 THEN n_chars ELSE strlen("
                    "array_to_string(list_transform(string_split(text, ' '), "
                    "x -> x || '_q' || r.r), ' ')) END"),
    },
    "embeddings": {
        # signed-permutation isometry, distinct to dim^2 replicas (see
        # header): rotation (a + 17b) % dim, sign = Walsh(a)(j) x
        # Walsh(b)(j*q + a), with a = r % dim, b = r // dim and q = 5 for
        # b >= 2 else 1 (q odd => j*q % dim is a bijection). The q factor
        # is the round-16 collision fix: with q = 1 (the round-15 family)
        # replicas (a, b) and (a-4, b+4) coincide whenever a = 4 mod 8 —
        # first collision r=4 vs r=256, 57 pairs under the 900 cap, found
        # by round-15 ADVICE and reproduced exhaustively. q = 5 restores
        # pairwise distinctness for ALL r < dim^2 (verified exhaustively:
        # tools/proto_decade.py isocheck) and is identity for b <= 1, so
        # every committed fixture (factors 30/40/60/100, max b = 1) stays
        # bit-identical. Reduces to the round-13 family (rotation r,
        # Walsh r) for r < dim.
        "embedding": ("CASE WHEN r.r = 0 THEN embedding ELSE "
                      "list_transform(range(1, len(embedding) + 1), "
                      "i -> CAST(CASE WHEN ("
                      "bit_count(CAST((i - 1) AS BIGINT) "
                      "& CAST((r.r % len(embedding)) AS BIGINT)) + "
                      "bit_count(CAST((((i - 1) * "
                      "(CASE WHEN r.r // len(embedding) >= 2 THEN 5 ELSE 1 END) "
                      "+ r.r) % len(embedding)) AS BIGINT) "
                      "& CAST((r.r // len(embedding)) AS BIGINT))"
                      ") % 2 = 1 THEN -1 ELSE 1 END "
                      "AS FLOAT) * embedding[1 + ((i - 1 + "
                      "((r.r % len(embedding)) + 17 * (r.r // len(embedding))) "
                      "% len(embedding)) % len(embedding))]) "
                      "END"),
    },
}


def main(factor, out_dir, distinct):
    assert 2 <= factor <= 900, f"factor {factor} out of the sanity cap (see header)"
    if distinct and factor > 64:
        # The round-16 family (q=5 j-scramble for b >= 2) is exhaustively
        # verified distinct to dim^2 replicas (4096 at dim 64) — far past
        # the 900 sanity cap — so >64 factors are valid for the embedding
        # axis (the round-15 q=1 form collided from r=256; see header).
        # Remind about the pair-census contract, which is threshold- not
        # factor-limited (see header).
        print(f"note: factor {factor} embeddings are distinct signed-"
              "permutation isometries (round-16 family, exhaustively "
              "verified to dim^2 by proto_decade.py isocheck); at "
              "thresholds < ~0.6 the qualifying-pair census is "
              "tail-quadratic in total rows by the operator's own "
              "regime (see header)")
    if os.path.isdir(out_dir) and os.listdir(out_dir):
        raise SystemExit(f"refusing to overwrite non-empty {out_dir} - "
                         "remove it or pass an explicit fresh out_dir")
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t, keys in OFFSETS.items():
        rewrites = DISTINCT_EXPRS.get(t, {}) if distinct else {}
        cols = [c[0] for c in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{t}.parquet')").fetchall()]
        sel = ", ".join(
            f"{c} + r.r * {STRIDE} AS {c}" if c in keys
            else f"{rewrites[c]} AS {c}" if c in rewrites
            else c for c in cols)
        con.execute(f"""
            COPY (SELECT {sel}
                  FROM read_parquet('{SRC}/{t}.parquet'), range({factor}) AS r(r)
                  ORDER BY r.r)
            TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)""")
        n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{out_dir}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows")
    for t in DIMS:
        con.execute(f"""
            COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet'))
            TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)""")
        print(f"{t}: copied")


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--distinct"]
    distinct = "--distinct" in sys.argv[1:]
    factor = int(args[0])
    default = f"/root/repo/.bench/sfx{factor}{'d' if distinct else ''}"
    main(factor, args[1] if len(args) > 1 else default, distinct)
