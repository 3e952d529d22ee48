#!/usr/bin/env python3
"""Edge-case gate: rebuilds a testdata dir whose `documents` table is all
sharp edges (empty/blank/1-2-3-token/unicode/punct-only/very-long/null
text), then the normal Verify + check flow must still pass every query.

This catches the "latent at 100 TB" class: semantics that diverge
cross-engine only on inputs absent from the driver's clean synthetic
data (found so far: NULL band-key bucketing in LSH, null-text rolling
hash).

Usage: python3 tools/edgecheck.py [ROOT]   # ROOT defaults to /tmp
Writes ROOT/edgedata (this gate) and ROOT/edgenullvec (the null-vector
gate below), then:
       sbt "runMain graft.Verify ROOT/edgedata ROOT/verify_edge"
       python3 tools/check.py ROOT/edgedata ROOT/verify_edge
"""
import duckdb, os, shutil, sys

BASE = "/root/testdata/sf0.001"
ROOT = sys.argv[1] if len(sys.argv) > 1 else "/tmp"
OUT = f"{ROOT}/edgedata"

os.makedirs(OUT, exist_ok=True)
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "embeddings"]:
    src = f"{BASE}/{t}.parquet"
    if os.path.exists(src):
        shutil.copyfile(src, f"{OUT}/{t}.parquet")

con = duckdb.connect()
con.sql(f"""
COPY (SELECT * FROM (VALUES
  (0, '', 'en', 'web', 0),
  (1, '   ', 'en', 'web', 3),
  (2, 'single', 'en', 'web', 6),
  (3, 'two tokens', 'en', 'web', 10),
  (4, 'exactly three tokens', 'en', 'web', 20),
  (5, 'Ünïcödé tëxt wíth áccents and ümläuts everywhere', 'de', 'web', 48),
  (6, '123 456 !!! ??? ... 789', 'xx', 'web', 23),
  (7, repeat('long', 500), 'en', 'web', 2000),
  (8, 'dup dup dup dup dup dup dup dup dup dup', 'en', 'web', 40),
  (9, 'a b c d e f g h i j k l m n o p', 'en', 'web', 31),
  (10, 'tab\there and  double  spaces', 'en', 'web', 28),
  (11, NULL, 'en', 'web', 0),
  -- adversarial-Unicode fixture (GateExprsSpec's class, here for the
  -- whole battery): zero-width-space "words", astral emoji (4-byte
  -- UTF-8), combining vs precomposed accents, fullwidth stopword
  -- lookalikes, RTL — exercises every byte-walking expression
  -- (GopherStats, HashedTokenScore, minhash, shingles) on multi-byte
  -- and zero-width tokens the synthetic corpus never produces
  (12, chr(8203) || ' ' || chr(128512) || chr(128512) || ' e' || chr(769) || ' ' || chr(233) || ' ' || chr(65364) || chr(65352) || chr(65349) || ' the' || chr(8203) || ' ' || chr(1575) || chr(1604) || chr(1593), 'xx', 'web', 24)
) t(doc_id, text, lang, source, n_chars)) TO '{OUT}/documents.parquet' (FORMAT PARQUET)
""")
# events edges: single-event user, identical-ts ties, digit-less props,
# unseen event_type, values at percentile extremes, exact hour boundaries.
# ts MUST be TIMESTAMP_NS — Registry.t reads the nanos physical type.
con.sql(f"""
COPY (SELECT event_id, ts::TIMESTAMP_NS AS ts, user_id, event_type,
             value::DOUBLE AS value, props
FROM (VALUES
  (1, TIMESTAMP '2024-01-01 00:00:00', 100, 'click',    1.0,  '{{"k": 1}}'),
  (2, TIMESTAMP '2024-01-02 03:00:00', 101, 'view',     2.5,  '{{"k": 2}}'),
  (3, TIMESTAMP '2024-01-02 03:00:00', 101, 'purchase', 3.5,  '{{"k": 3}}'),
  (4, TIMESTAMP '2024-01-02 03:00:00', 101, 'view',     4.5,  'no digits here'),
  (5, TIMESTAMP '2024-01-03 00:00:00', 101, 'weird',    9.9,  '{{}}'),
  (6, TIMESTAMP '2024-01-04 12:00:00', 102, 'error',    0.0,  '{{"k": 0}}'),
  (7, TIMESTAMP '2024-01-04 12:30:00', 102, 'error',    -5.0, '{{"k": 007}}'),
  (8, TIMESTAMP '2024-01-04 13:00:00', 102, 'click',    1000000.0, '{{"k": 99999999}}'),
  (9, TIMESTAMP '2024-01-30 23:59:59', 103, 'signup',   0.01, '{{"k": 8}}'),
  (10, TIMESTAMP '2024-01-01 01:00:00', 103, 'view',    7.0,  '{{"k": 9}}'),
  (11, NULL, 103, 'view', 3.0, '{{"k": 4}}')
) t(event_id, ts, user_id, event_type, value, props)
UNION ALL SELECT * FROM (VALUES
  (12, TIMESTAMP '2024-01-05 00:00:00', 104, 'click', 2.0, '{{"k": 5}}')
) t(event_id, ts, user_id, event_type, value, props))
TO '{OUT}/events.parquet' (FORMAT PARQUET)
""")
print(f"edge testdata written to {OUT}; run Verify + check against it")

# ---- second fixture: null-element / null embeddings (kmeans family) ----
# Pins the "unscoreable vectors are EXCLUDED from assignment" semantics
# cross-engine (r8, ADVICE): a null ELEMENT is in-scope data both
# engines' centroid CTEs already skip (v IS NOT NULL), but assignment
# used to diverge — Spark's argmin skipped every centroid while the
# twin's row_number over all-NULL scores adopted the smallest label.
# Kept OUT of the main edge dir: a null element inside `embedding`
# changes semantics for the whole e-battery (SQL SUM() skips NULLs
# where Spark's codegen'd bucket/cosine expressions null-propagate),
# and only the kmeans family has the exclusion semantics pinned. Run:
#   sbt "runMain graft.Verify ROOT/edgenullvec ROOT/verify_nullvec e08_kmeans_step e09_cluster_sample"
#   python3 tools/check.py ROOT/edgenullvec ROOT/verify_nullvec
OUT2 = f"{ROOT}/edgenullvec"
os.makedirs(OUT2, exist_ok=True)
null_elem_vec = ", ".join("NULL" if j == 0 else str((j % 7) * 0.25)
                          for j in range(64))
con.sql(f"""
COPY (
  SELECT * FROM '{BASE}/embeddings.parquet'
  UNION ALL
  SELECT 1000001 AS vec_id, [{null_elem_vec}]::FLOAT[] AS embedding, 0 AS label
  UNION ALL
  SELECT 1000002 AS vec_id, NULL::FLOAT[] AS embedding, 1 AS label
) TO '{OUT2}/embeddings.parquet' (FORMAT PARQUET)
""")
print(f"null-vector testdata written to {OUT2}; run Verify + check "
      "for e08_kmeans_step e09_cluster_sample against it")
