from kmtricks_spark.functions.shingles import kgrams_sql
from kmtricks_spark.functions.hashing import part_id_col, windowed_hash_col, hash64_np

__all__ = [
    "kgrams_sql",
    "part_id_col",
    "windowed_hash_col",
    "hash64_np",
]
