"""Seeded request, operator and batch sequences for the three workloads.

Pure Python: nothing here starts Spark. Each function takes the seed
and returns the same sequence for the same seed. The share of each
request kind is fixed per block, so seeds change which requests run and
in what order, not the mix; that keeps the figures comparable across
seeds.
"""

from __future__ import annotations

import random
from itertools import count
from typing import Iterator

# -- interactive --------------------------------------------------------------

# semantic-layer schemas (SemanticLayerSchema.model_validate +
# SchemaCompiler.compile), views included. q01 and q33 are left out:
# they round averages and interpolated percentiles to cents, and on some
# generated inputs the exact value lies next to a half-cent, where Spark
# (HALF_UP on the exact double) and the DuckDB oracle round apart by
# 0.01 (q01 on seed 7, q33 on seeds 15, 17, 302 and 304 at sf0.01).
SCHEMA_POOL = [
    "q02_customer_transforms", "q03_orders_monthly",
    "q04_view_region_revenue", "q05_distinct_priorities",
    "q06_topk_orders", "q07_fill_validate",
]

# guarded SQL (SQLExecutor.execute)
SQL_POOL = [
    "q08_sql_filter_agg", "q09_sql_window_topn", "q10_sql_setops",
    "q11_sql_cte", "q12_pagination", "q13_search_filter",
    "q14_json_extract", "q16_sessionization", "q31_rollup",
    "q39_rolling_window", "q40_cube", "q41_exists_subquery",
    "q43_not_exists", "q157_grouping_sets",
]

# SQL the guard must refuse: statements other than one SELECT, and a
# SELECT that reads a table the conversation never registered
UNSAFE_POOL = [
    "DELETE FROM orders",
    "DROP TABLE customer",
    "SELECT * FROM orders; DROP TABLE orders",
    "INSERT INTO orders SELECT * FROM orders",
    "UPDATE orders SET o_totalprice = 0",
    "SELECT o_orderkey FROM orders UNION SELECT s_suppkey FROM supplier",
    "SELECT * FROM customer JOIN secrets ON c_custkey = secrets.id",
]

# chat turns: FakeLLM replays code calling execute_sql_query with one of
# these, parameters drawn by the seed; the same SQL runs on DuckDB. Only
# sums of two-decimal prices are rounded: Spark and DuckDB round a
# double that sits next to a half-cent differently (see SCHEMA_POOL).
CHAT_TEMPLATES = [
    ("SELECT o_orderpriority, count(*) AS n, "
     "round(sum(o_totalprice), 2) AS total FROM orders "
     "WHERE o_orderdate >= TIMESTAMP '{year}-01-01 00:00:00' "
     "GROUP BY o_orderpriority ORDER BY o_orderpriority",
     {"year": [1995, 1996, 1997, 1998, 1999, 2000]}),
    ("SELECT c_mktsegment, count(*) AS n FROM customer "
     "WHERE c_acctbal > {bal} GROUP BY c_mktsegment ORDER BY c_mktsegment",
     {"bal": [0, 2500, 5000, 7500]}),
    ("SELECT c.c_mktsegment, count(*) AS n, "
     "round(sum(o.o_totalprice), 2) AS total "
     "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
     "WHERE o.o_orderstatus = '{status}' "
     "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment",
     {"status": ["F", "O", "P"]}),
    ("SELECT o_orderkey, o_totalprice FROM orders "
     "WHERE o_orderpriority = '{prio}' "
     "ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}",
     {"prio": ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"],
      "k": [5, 10, 20]}),
    ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
     "round(sum(l_quantity), 2) AS qty FROM lineitem "
     "WHERE l_discount >= {disc} "
     "GROUP BY l_returnflag, l_linestatus "
     "ORDER BY l_returnflag, l_linestatus",
     {"disc": [0.0, 0.03, 0.05, 0.08]}),
]
CHAT_TABLES = ["orders", "customer", "lineitem"]
CHAT_KEYS_PER_SESSION = 10

# per block of BLOCK requests: how many of each kind. Every schema and
# every SQL query runs once per block; chats and the unsafe query are
# drawn with replacement.
BLOCK_MIX = {"schema": len(SCHEMA_POOL), "sql": len(SQL_POOL), "unsafe": 1,
             "chat": 5, "chat_sandbox": 1}
BLOCK = sum(BLOCK_MIX.values())


def chat_code(sql: str) -> str:
    """The code FakeLLM answers with for a chat turn over ``sql``."""
    return (f'df = execute_sql_query("""{sql}""")\n'
            'result = {"type": "dataframe", "value": df}\n')


def chat_keys(seed: int) -> list[str]:
    """The session's distinct chat SQL texts (drawn once per session)."""
    rng = random.Random(f"chat-{seed}")
    keys: list[str] = []
    while len(keys) < CHAT_KEYS_PER_SESSION:
        tmpl, domain = CHAT_TEMPLATES[len(keys) % len(CHAT_TEMPLATES)]
        sql = tmpl.format(**{k: rng.choice(v) for k, v in domain.items()})
        if sql not in keys:
            keys.append(sql)
    return keys


def block_kinds() -> list[str]:
    """The kinds of one block in order, each spread evenly (smooth
    weighted round robin over BLOCK_MIX): every prefix of a block holds
    each kind within one of its share."""
    credit = dict.fromkeys(BLOCK_MIX, 0)
    order = []
    for _ in range(BLOCK):
        for kind, n in BLOCK_MIX.items():
            credit[kind] += n
        kind = max(credit, key=credit.get)
        credit[kind] -= BLOCK
        order.append(kind)
    return order


def interactive_requests(seed: int) -> Iterator[tuple[str, str]]:
    """Endless closed-loop request stream of ``(kind, key)`` pairs.

    ``kind`` is schema/sql/unsafe/chat/chat_sandbox; ``key`` is a
    registry query name for schema and sql, the SQL text otherwise.
    Each block holds every schema and SQL query once, in a seeded
    order, plus chats and an unsafe query drawn by the seed; every key
    repeats from block to block. The kinds follow ``block_kinds``, so a
    run cut off mid-block keeps the block's mix."""
    rng = random.Random(f"interactive-{seed}")
    chats = chat_keys(seed)
    kinds = block_kinds()
    for _ in count():
        keys = {"schema": rng.sample(SCHEMA_POOL, len(SCHEMA_POOL)),
                "sql": rng.sample(SQL_POOL, len(SQL_POOL)),
                "unsafe": [rng.choice(UNSAFE_POOL)],
                "chat": [rng.choice(chats) for _ in range(5)],
                "chat_sandbox": [rng.choice(chats)]}
        for kind in kinds:
            yield kind, keys[kind].pop()


# -- pipeline -----------------------------------------------------------------

# the operators of each family that run in well under 2 s at sf0.01,
# distributed twins included. Left out: q34, q68 and q186, whose exact
# DuckDB closures (the result check) take about 3 s each at sf0.01.
PIPELINE_FAMILIES = {
    "dedup": ["q21_ngram_jaccard", "q22_minhash_pairs",
              "q26_embedding_near_dup", "q148_golden_records",
              "q63_span_excision"],
    "stats": ["q177_spearman", "q180_spearman_distributed",
              "q182_mw_distributed", "q183_fdr_distributed",
              "q184_auc_distributed", "q187_ks_distributed",
              "q190_wasserstein_distributed", "q192_kw_distributed",
              "q201_dunn_distributed"],
    "graph": ["q82_pagerank", "q204_kcore", "q212_siegel_slopes",
              "q155_assortativity"],
    "resample": ["q170_bootstrap_ci", "q194_permutation_test"],
}
PIPELINE_OPS = {op: fam for fam, ops in PIPELINE_FAMILIES.items()
                for op in ops}


def pipeline_passes(seed: int) -> Iterator[list[str]]:
    """Endless passes; each runs every operator once, in a seeded order."""
    rng = random.Random(f"pipeline-{seed}")
    ops = sorted(PIPELINE_OPS)
    for _ in count():
        p = list(ops)
        rng.shuffle(p)
        yield p


# -- ingest -------------------------------------------------------------------

def ingest_doc_batches(seed: int, n_batches: int, batch_docs: int,
                       resubmit_frac: float = 0.1
                       ) -> list[list[tuple[int, str]]]:
    """Document batches for the near-dup stream: ``(doc_id, text)``.

    Ids rise with arrival. About one document in twenty is a near-dup of
    an earlier original (its text plus ``" dup"``); ``resubmit_frac`` of
    each batch after the first re-sends an earlier document's exact text
    under a new id."""
    from .datagen import WORDS

    rng = random.Random(f"ingest-docs-{seed}")
    originals: list[str] = []
    sent: list[str] = []
    batches = []
    for b in range(n_batches):
        texts = []
        n_re = int(batch_docs * resubmit_frac) if b else 0
        for i in range(batch_docs):
            if i < n_re:
                text = rng.choice(sent)
            elif originals and rng.random() < 0.05:
                text = rng.choice(originals) + " dup"
            else:
                k = rng.randint(10, 99)
                text = " ".join(rng.choice(WORDS) for _ in range(k))
                originals.append(text)
            texts.append(text)
        rng.shuffle(texts)
        sent.extend(texts)
        batches.append([(b * batch_docs + j, t)
                        for j, t in enumerate(texts)])
    return batches
