"""Pipeline plans: composition of the E1→E4 stages plus job orchestration
(repartition-by-url-hash, resume skip, lineage metrics)."""
