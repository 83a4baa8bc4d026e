"""BM25 (k1=1.2, b=0.75, Lucene idf): the engine's one definition.

The relational scorer (``score.bm25_scores``), the WAND scorer and its
block upper bounds (``wand``) and the build-time ``block_max_weight``
(``indexer.build_segments``) all compute through these functions, so the
bounds the pruning trusts are the same arithmetic as the scores it
prunes.  The oracles (``oracle/engine.py`` and the DuckDB SQL of the gate
registry) keep their own copies on purpose, as independent checks.

Spark-free: the functions use only arithmetic operators, so they take
Python floats, numpy arrays and Spark ``Column`` objects alike (``idf``
takes the matching ``log``).
"""

from __future__ import annotations

import math

K1 = 1.2
B = 0.75


def idf(df, num_docs, log=math.log):
    """Lucene idf: ln(1 + (N - df + 0.5) / (df + 0.5)), never negative."""
    return log(1.0 + (num_docs - df + 0.5) / (df + 0.5))


def tf_norm(tf, dl, avgdl):
    """The saturated, length-normalised tf part, tf / (tf + k1·(1 - b +
    b·dl/avgdl)).  Its maximum over a block is the block's stored
    ``block_max_weight``."""
    return tf / (tf + K1 * (1.0 - B + B * dl / avgdl))


def weight(idf_, norm):
    """idf · (k1+1) · norm: a posting's score from its ``tf_norm``, or a
    block's upper bound from its ``block_max_weight``."""
    return idf_ * (K1 + 1.0) * norm
