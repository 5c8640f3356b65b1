from go_web_mapreduce_spark.functions.text import (  # noqa: F401
    token_count,
    tokens,
    word_shingles,
)
from go_web_mapreduce_spark.functions.vectors import (  # noqa: F401
    cosine_similarity,
    dot,
    l2_norm,
)
from go_web_mapreduce_spark.functions.hashing import (  # noqa: F401
    band_keys,
    hamming_distance,
    md5_bucket,
    salted_md5,
    simhash,
)
