"""BM25 parameters and the index's field ids, defined once and Spark-free:
the exact scorer (bm25), the segment encoder, the distributed scorers and
the serving tier (wand, phrase) all read these. bm25 and postings
re-export them."""

FIELD_CONTENT = 0
FIELD_TITLE = 1

K1 = 1.2
B = 0.75
DEFAULT_BOOSTS = {FIELD_CONTENT: 1.0, FIELD_TITLE: 5.0}  # title^5: web/elastic_interaction.py:29-32
