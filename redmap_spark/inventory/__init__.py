"""SURVEY §2 inventory: importing this package registers every query."""

from redmap_spark.inventory.registry import ORACLES, QUERIES

# Registration order matters: the driver's CORRECTNESS run verifies the FIRST
# 50 queries() entries in registration order. The LLM-pipeline operators
# (dedup / similarity / text / multimodal / mapreduce) register first so they
# land inside that window; the relational/analytic queries (driver-green in
# round 1) take the overflow slots.
from redmap_spark.inventory import dedup  # noqa: F401
from redmap_spark.inventory import similarity  # noqa: F401
from redmap_spark.inventory import text  # noqa: F401
from redmap_spark.inventory import multimodal  # noqa: F401
from redmap_spark.inventory import sketches  # noqa: F401
from redmap_spark.inventory import mapreduce  # noqa: F401
from redmap_spark.inventory import cohorts  # noqa: F401
from redmap_spark.inventory import relational  # noqa: F401
from redmap_spark.inventory import relational2  # noqa: F401
from redmap_spark.inventory import analytic  # noqa: F401
from redmap_spark.inventory import relational3  # noqa: F401
from redmap_spark.inventory import relational4  # noqa: F401
from redmap_spark.inventory import changefeed  # noqa: F401
from redmap_spark.inventory import linkage  # noqa: F401
from redmap_spark.inventory import quality  # noqa: F401
from redmap_spark.inventory import advanced  # noqa: F401
from redmap_spark.inventory import text2  # noqa: F401
from redmap_spark.inventory import timeseries  # noqa: F401
from redmap_spark.inventory import mlstats  # noqa: F401
from redmap_spark.inventory import graph  # noqa: F401
from redmap_spark.inventory import stats2  # noqa: F401
from redmap_spark.inventory import stats3  # noqa: F401
from redmap_spark.inventory import econ  # noqa: F401
from redmap_spark.inventory import stats4  # noqa: F401
from redmap_spark.inventory import ml  # noqa: F401
from redmap_spark.inventory import infer  # noqa: F401
from redmap_spark.inventory import text3  # noqa: F401
from redmap_spark.inventory import ml2  # noqa: F401
from redmap_spark.inventory import stats5  # noqa: F401
from redmap_spark.inventory import stats6  # noqa: F401
from redmap_spark.inventory import ops  # noqa: F401
# round 7: the former stats7 grab-bag, split by theme (code unchanged at the
# split; mr_betweenness / q_rolling_beta / q_mincer_zarnowitz /
# q_huber_regression were then optimized in place after the split)
from redmap_spark.inventory import risk  # noqa: F401
from redmap_spark.inventory import forecast  # noqa: F401
from redmap_spark.inventory import causal  # noqa: F401
from redmap_spark.inventory import supply  # noqa: F401
from redmap_spark.inventory import distrib  # noqa: F401
from redmap_spark.inventory import regress  # noqa: F401

# The driver's CORRECTNESS window verifies the FIRST 50 queries() entries
# (rows+schema+value-hash vs DuckDB). Rounds 1–8 drove 288 of the 540
# oracle entries driver-green (union of CORRECTNESS_r01..r08); each round
# the window rotates to the next 50 never-driver-verified entries so the
# backlog drains at 50/round (202 left after round 9). The rotation test
# (tests/test_oracle.py::test_window_rotation_covers_all_oracles) enforces
# that no slot is wasted on an already-verified entry.
_WINDOW_FIRST = [
    # Round-13 rotation: the 52 oracle entries that have never carried a
    # hash_match in a CORRECTNESS run (union of CORRECTNESS_r01..r12 —
    # round 12 verified the previous window's first 50,
    # q_ulcer_index..q_session_gap_sweep, so they drop off the front), in
    # prior registration order. Each round verifies the first 50; the last
    # two queue for round 14.
    "q_p_chart", "q_crow_amsaa", "q_acceptance_sampling", "q_western_electric",
    "q_threshold_opt", "q_apportionment", "q_ndr", "q_cohort_payback",
    "q_topsis", "q_dissimilarity_index", "q_location_quotient", "q_lorenz_asymmetry",
    "q_hoover_index", "q_palma", "q_superstar_share", "q_whipple_index",
    "q_robust_shape", "q_energy_distance", "q_clumpiness", "q_discovery_curve",
    "q_circular_stats", "q_zt_poisson", "q_eb_poisson", "q_smr_indirect",
    "q_direct_standardization", "q_fh_smallarea", "q_l_diversity", "q_mover_stayer",
    "q_shorrocks_mobility", "q_double_jeopardy", "q_brand_switching", "q_ridge_path",
    "q_lmg_importance", "q_huber_m", "q_huber_regression", "q_expectile",
    "q_engel_curve", "q_gibrat_law", "q_fisher_ideal", "q_segmented_regression",
    "q_recsys_coverage", "sim_knn_classifier", "mr_betweenness", "mr_rich_club",
    "txt_lmir_dirichlet", "txt_self_bleu", "txt_umass_coherence", "txt_gries_dp",
    "txt_good_turing", "txt_yule_k", "txt_char_entropy", "txt_fishers_alpha",
]
_rest = [k for k in QUERIES if k not in set(_WINDOW_FIRST)]
_ordered = {k: QUERIES[k] for k in [*(_n for _n in _WINDOW_FIRST if _n in QUERIES), *_rest]}
QUERIES.clear()
QUERIES.update(_ordered)

# Entries without an oracle only get a weak rows-only row in the window.
# Move the no-oracle entries (approximate ANN, sketch-bound, binary-output
# multimodal — each covered by recall/error-bound pytest instead) to the
# END so every window slot is hash-checkable.
for _name in [k for k in list(QUERIES) if k not in ORACLES]:
    QUERIES[_name] = QUERIES.pop(_name)

__all__ = ["QUERIES", "ORACLES"]
