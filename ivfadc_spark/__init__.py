"""ivfadc_spark — a from-scratch PySpark-native inverted-index + BM25 engine.

Grafts the inverted-list architecture of the zjucsxxd/IVFADC image search
engine (surveyed in SURVEY.md) onto full-text search over tables of
multi-turn conversation transcripts:

- coarse-quantizer cell        -> term
- PQ codes per posting         -> (tf, doclen) payload, delta+varint packed
- residual distance scoring    -> BM25 partial score
- multi-assignment (ma cells)  -> multi-term queries
- segment dirs (idx/nl/voc_sz) -> parquet posting/doc_map/dict datasets
- pthread task queue           -> Spark tasks + AQE

Everything is DataFrame-first; Python appears only inside Arrow-batched
pandas UDFs (codecs, WAND scan).
"""

__version__ = "0.1.0"

from ivfadc_spark.config import EngineConfig  # noqa: F401
from ivfadc_spark.functions.arrow_pool import use_cached_zip_directories
from ivfadc_spark.session import get_spark  # noqa: F401

# a reused Spark worker imports the package when it unpickles its first
# engine UDF: from then on its tasks stop re-reading pyspark.zip
use_cached_zip_directories()
