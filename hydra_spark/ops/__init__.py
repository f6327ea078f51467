"""Training-data operators (dedup, similarity, text stats, ...)."""


def spread(df, id_col: str):
    """Decouple compute parallelism from the upstream file layout.

    Shingling, regex scoring and vector math do orders of magnitude more
    work than the bytes they scan, so a narrow scan (a single-file table
    = one split) must not be inherited into the compute stage: an
    MB-scale shuffle on ``id_col`` up to the session's parallelism first
    is the right shape at any scale.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
