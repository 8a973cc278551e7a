"""Query modules, one per family.

A query's family is the prefix of its name up to the first
underscore, and ``FAMILY`` maps each prefix to the module that holds
the query body and its DuckDB oracle.  An oracle fragment shared by
several families lives once, in the module of the family that owns
it, and the others import it from there; those imports form no cycle.

Each module registers its queries into ``_base.QUERIES`` /
``_base.ORACLE_SQL`` on import; ``..registry`` imports them all and
then sorts the registry once into the driver's order
(``freshness.driver_order``), so import them through it.
"""

FAMILY: dict[str, str] = {
    "du": "q_du",
    "inventory": "q_du",
    "sql": "q_sql",
    **dict.fromkeys(
        (
            "window", "join", "setop", "approx", "percentile", "part",
            "trend", "profile", "segment", "stat", "pivot", "cube", "graph",
            "salted", "semi", "supplier", "star", "topk", "anti", "rollup",
            "distinct", "unpivot", "range", "orders", "aqp",
        ),
        "q_relational",
    ),
    "scalar": "q_scalar",
    "text": "q_text",
    "docs": "q_text",
    "dedup": "q_dedup",
    "curation": "q_curation",
    "sim": "q_similarity",
    "events": "q_sessions",
    "media": "q_sessions",
    "udf": "q_udf",
    "udaf": "q_udf",
    "udtf": "q_udf",
    "dq": "q_dq",
}
