"""Engine constants.

Values mirror the reference's semantics-bearing constants
(/root/reference/emma/constants.py) so that alignment results are
comparable; citations are file:line into the reference tree.
"""

import math

# Score threshold for positive alignment (emma/constants.py:15)
SIM_SCORE_THRESHOLD = 0.90

# K top candidates kept per source entity (emma/constants.py:21)
KEEP_TOP_K_CANDIDATES = 100

# Character n-gram size for blocking (emma/constants.py:24)
NGRAM_SIZE = 5

# IDF floor below which blocking tokens are dropped (emma/constants.py:27)
IDF_LIMIT = math.log(20)

# Negative samples per positive (emma/constants.py:30-31)
NUM_HARD_NEGATIVE_PER_POSITIVE = 1
NUM_EASY_NEGATIVE_PER_POSITIVE = 1

# Candidate-selection eval cutoffs (emma/CandidateSelection.py:42)
EVAL_TOP_KS = [1, 2, 5, 10, 20, 50, 100, 200, 500]

# Train/dev/test split (emma/constants.py:55-57)
TRAINING_PART, DEVELOPMENT_PART, TEST_PART = 0.6, 0.2, 0.2

# UMLS relation-class labels (emma/constants.py:60-63)
UMLS_SYNONYM_REL_LABELS = ["RL", "RQ", "RU", "SY"]
UMLS_PARENT_REL_LABELS = ["RB", "PAR", "Is a", "Part of", "subClassOf", "is_a", "part_of"]
UMLS_CHILD_REL_LABELS = ["RN", "CHD", "Has part", "subClass", "has_part"]
UMLS_SIBLING_REL_LABELS = ["SIB", "RO"]

# Symmetric relation inverse map (emma/constants.py:66-73)
SYMMETRIC_RELATIONS = {
    "PAR": "CHD", "CHD": "PAR",
    "RN": "RB", "RB": "RN",
    "subClassOf": "subClass", "subClass": "subClassOf",
    "part_of": "has_part", "has_part": "part_of",
}

# Open-predicate canonicalization (KG materialize stage; the surface
# forms are the ones the extract-stage patterns emit plus common crawl
# variants — generalizes the reference's closed relation-label sets
# above to extracted predicate text)
PREDICATE_ALIASES = {
    "is_an": "is_a",
    "is": "is_a",
    "isa": "is_a",
    "type_of": "is_a",
    "kind_of": "is_a",
    "part_of": "is_part_of",
    "belongs_to": "is_part_of",
    "member_of": "is_part_of",
    "located_in": "is_in",
    "lives_in": "is_in",
    "based_in": "is_in",
    "works_at": "works_for",
    "employed_by": "works_for",
}
# canonical-direction fold: surface → the forward predicate whose
# (subj, obj) is the REVERSE of this one's
PREDICATE_INVERSES = {
    "has_part": "is_part_of",
    "has_member": "is_part_of",
    "contains": "is_in",
    "has_type": "is_a",
    "employs": "works_for",
}

# Neighborhood BFS depth (emma/constants.py:79)
NEIGHBORHOOD_GENERATION_STEPS = 2

# Top-N per row kept for global assignment (emma/constants.py:82)
MODH_KEEP_TOP_N_CANDIDATES = 10

# ---- Scale knobs (ours, not the reference's) -------------------------------

# Connected-components convergence safety bound.
CC_MAX_ITERATIONS = 50

# Arrow batch size for pandas-UDF stages (reference NN batch precedent:
# emma/OntoEmma.py:737 uses 128; Arrow batches are far cheaper, use 10k).
ARROW_MAX_RECORDS_PER_BATCH = 10_000
