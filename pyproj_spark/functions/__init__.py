"""Spark-facing column functions.

Two tiers, by design (SURVEY.md §4):

* **native** — closed-form math emitted as Catalyst expressions so it
  stays inside WholeStageCodegen (cell ids, web-mercator tiles, bbox
  predicates, reverse_azimuth);
* **kernel UDFs** — scalar Arrow UDFs (``rows.map_arrays``) wrapping
  the numpy kernels for iterative math (CRS pipelines, Karney
  geodesics, projection factors). Never row-at-a-time ``F.udf``.
"""
