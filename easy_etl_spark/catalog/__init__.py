"""The query catalog, one module per operator family.

Each family module registers its queries into ``easy_etl_spark.queries``
(``QUERIES`` / ``ORACLES``) on import; ``queries.py`` imports all ten.
Shared helpers live in ``common``; no family module imports another.
"""
