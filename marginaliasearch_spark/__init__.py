"""marginaliasearch_spark — a PySpark-native re-implementation of the
MarginaliaSearch crawler core (reference: MarginaliaSearch/MarginaliaSearch,
studied read-only at /root/reference).

Architecture: wave-iterative batch crawl over a bucketed frontier table,
politeness enforced by per-top-domain grouped UDFs, dedup by cuckoo-prefiltered
anti-joins, payload validation in vectorized Arrow UDFs.  See SURVEY.md.
"""

from . import worker_imports

worker_imports.install()

__version__ = "0.1.0"
