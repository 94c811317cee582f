"""Shared curation-funnel fixture + oracle (leaf module).

Used by two domains: the batch funnel (`pipeline_curation_end_to_end`,
queries_pipeline) and its streaming face (`stream_curation_replay`,
queries_streaming). Imports only operators — no registry, no queries_*
modules.
"""

from __future__ import annotations

_CUR_N_TARGET = 150
_CUR_SEED = 13
_CUR_MIN_TOKENS = 10
_CUR_MIN_H = 1.5


def _cur_fixture_sql(cast_str: str) -> str:
    """The planted-corpus expression, shared verbatim by both engines
    modulo the string-cast keyword (Spark STRING / DuckDB VARCHAR)."""

    def email(idc: str) -> str:
        return (
            f" || ' contact user' || CAST({idc} AS {cast_str})"
            f" || '@mail-' || CAST({idc} % 7 AS {cast_str})"
            f" || '.example.com now'"
        )

    ta = "CASE WHEN doc_id % 31 = 7 THEN repeat('spam ', 40) ELSE text END"
    tb = (
        "CASE WHEN bid IS NULL THEN NULL"
        " WHEN bid % 31 = 7 THEN repeat('spam ', 40) ELSE btext END"
    )
    return f"""
  CASE WHEN doc_id % 20 = 1 AND bid IS NOT NULL THEN
    CASE WHEN bid % 5 = 2 THEN ({tb}){email("bid")} ELSE ({tb}) END
  WHEN doc_id % 5 = 2 THEN ({ta}){email("doc_id")}
  ELSE ({ta}) END
"""


def _curation_oracle() -> str:
    from whisper_pandas_spark.operators.lexical import log2_values_sql
    from whisper_pandas_spark.operators.redact import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    toks = (
        "regexp_split_to_array(trim(regexp_replace(lower(clean),"
        "'[^a-z0-9]+', ' ', 'g')), ' ')"
    )
    return f"""
WITH l2(i, l2) AS (VALUES {log2_values_sql()}),
b0 AS (
  SELECT d.doc_id, d.lang, d.text, b.doc_id AS bid, b.text AS btext
  FROM documents d LEFT JOIN documents b ON b.doc_id = d.doc_id - 1
), fix AS (
  SELECT doc_id, lang, ({_cur_fixture_sql("VARCHAR")}) AS t FROM b0
), red AS (
  SELECT doc_id, lang,
    regexp_replace(regexp_replace(regexp_replace(t,
      '{EMAIL_RE}', '<EMAIL>', 'g'),
      '{IPV4_RE}', '<IP>', 'g'),
      '{PHONE_RE}', '<PHONE>', 'g') AS clean,
    (len(regexp_extract_all(t, '{EMAIL_RE}'))
     + len(regexp_extract_all(t, '{IPV4_RE}'))
     + len(regexp_extract_all(t, '{PHONE_RE}')) > 0) AS pii_found
  FROM fix
), etoks AS (
  SELECT doc_id, unnest(list_filter({toks}, x -> x != '')) AS tok FROM red
), ec AS (
  SELECT doc_id, tok, CAST(count(*) AS INT) AS c
  FROM etoks GROUP BY doc_id, tok
), et AS (
  SELECT ec.doc_id, ec.tok, ec.c, CAST(ec.c AS DOUBLE) * l2.l2 AS term
  FROM ec LEFT JOIN l2 ON l2.i = ec.c
), ea AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY tok)),
                (x, y) -> x + y) AS tsum
  FROM et GROUP BY doc_id
), ent AS (
  SELECT ea.doc_id, ea.n_tokens,
    round(l2n.l2 - ea.tsum / CAST(ea.n_tokens AS DOUBLE) + 1e-9, 6)
      AS entropy
  FROM ea LEFT JOIN l2 l2n ON l2n.i = ea.n_tokens
), gate AS (
  SELECT r.doc_id, r.lang, r.clean, r.pii_found,
    coalesce(e.entropy >= {_CUR_MIN_H}
             AND e.n_tokens >= {_CUR_MIN_TOKENS}, FALSE) AS entropy_ok
  FROM red r LEFT JOIN ent e USING (doc_id)
), ded AS (
  SELECT doc_id, (rn = 1) AS is_canonical FROM (
    SELECT doc_id,
      row_number() OVER (PARTITION BY md5(clean) ORDER BY doc_id) AS rn
    FROM gate WHERE entropy_ok
  )
), g2 AS (
  SELECT g.doc_id, g.lang, g.pii_found, g.entropy_ok,
    coalesce(d2.is_canonical, FALSE) AS is_canonical
  FROM gate g LEFT JOIN ded d2 USING (doc_id)
), c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS c FROM g2
  WHERE entropy_ok AND is_canonical GROUP BY lang
), s AS (
  SELECT list_reduce(
    list_prepend(CAST(0.0 AS DOUBLE),
                 list(sqrt(CAST(c AS DOUBLE)) ORDER BY lang)),
    (x, y) -> x + y) AS s
  FROM c
), r AS (
  SELECT lang,
    least(1.0, {float(_CUR_N_TARGET)} * (sqrt(CAST(c AS DOUBLE)) / s.s)
               / CAST(c AS DOUBLE)) AS rate
  FROM c, s
)
SELECT g.doc_id, g.lang, g.pii_found, g.entropy_ok, g.is_canonical,
  CASE WHEN g.entropy_ok AND g.is_canonical
       THEN round(r.rate + 1e-9, 6) ELSE 0.0 END AS sample_rate,
  coalesce(g.entropy_ok AND g.is_canonical AND
    CAST(('0x' || substr(md5('{_CUR_SEED}:' || CAST(g.doc_id AS VARCHAR)),
                         1, 8))::BIGINT AS DOUBLE)
      < r.rate * 4294967296.0, FALSE) AS kept
FROM g2 g LEFT JOIN r USING (lang)
ORDER BY g.doc_id
"""
