"""Per-family query modules.  Each one registers its queries into
``_base.QUERIES`` / ``_base.ORACLE_SQL`` on import; ``..registry``
imports them all and then sorts the registry once into the driver's
order (``freshness.driver_order``), so import them through it.
"""
