"""The vector delta-index families by the ``kind`` their index meta
records. Each module exposes the same ``append_batch(batch_df,
batch_id, index_path, id_col, vec_col, prequantized=False)``,
``drift_baseline(spark, index_path, id_col)``, ``build_index`` (the
family's index build, whose keyword arguments the index meta records),
``LOGS`` (the logs its sink writes) and ``VECTORS`` (the base dataset
holding its (id, qv, nq) rows), so ``crawl`` and ``retrain`` loop over
this table instead of dispatching per kind.
"""

from . import ivf_ingest, ivfpq_ingest, ivfsq_ingest

FAMILIES = {"ivf": ivf_ingest, "ivfpq": ivfpq_ingest, "ivfsq": ivfsq_ingest}
