"""iamsystem_python_spark — a from-scratch PySpark-native engine with the
query/data-processing capabilities of scossin/iamsystem_python, rebuilt as a
distributed near-duplicate detection + annotation pipeline.

Layers
------
- ``core``       pure-Python row kernels (tokenizer, trie, window matcher,
                 fuzzy normalizers) executed *inside* Arrow batches — never
                 per-row Python UDFs at the Spark layer.
- ``operators``  DataFrame-level operators: annotate, dedup (the exact +
                 MinHash-LSH pipeline stages; SimHash / n-gram Jaccard /
                 embedding cosine pair operators), similarity search, text
                 stats, connected components.
- ``sources``    readers + the deterministic synthetic code-corpus generator.
- ``functions``  pure-column helpers built on pyspark.sql.functions.
- ``plans``      pipeline configuration + checkpoint/resume manifests.
- ``streaming``  structured-streaming variants of the stateless stages.

Reference parity: scossin/iamsystem_python v0.6.1 (read-only at
/root/reference). Citations in docstrings are file:line into that repo.
"""

__version__ = "0.1.0"

# Top-level API: the same names a user of the reference imports from
# `iamsystem` (reference src/iamsystem/__init__.py), plus this engine's
# tokenizers. Every name resolves to the native implementation or a thin
# documented shim — see each module's docstring for the reference citation.
from iamsystem_python_spark.core.api import (  # noqa: F401
    IAnnotation,
    IBaseMatcher,
    IBratFormatter,
    IMatcher,
    IOffsets,
    ISpan,
    IStopwords,
    IToken,
    ITokenizer,
    IWords2ignore,
    TokenT,
)
from iamsystem_python_spark.core.brat import (  # noqa: F401
    BratDocument,
    BratEntity,
    BratNote,
    BratWriter,
)
from iamsystem_python_spark.core.fuzzy import (  # noqa: F401
    Abbreviations,
    CacheFuzzyAlgos,
    ContextFreeAlgo,
    ESimStringMeasure,
    ESpellWiseAlgo,
    ExactMatch,
    FuzzyAlgo,
    FuzzyRegex,
    NgramSimilarity,
    NormLabelAlgo,
    SimStringWrapper,
    SimpleWords2ignore,
    SpellWiseWrapper,
    StringDistance,
    WordNormalizer,
    token_is_upper_case,
)
from iamsystem_python_spark.core.keywords import (  # noqa: F401
    Entity,
    IEntity,
    IKeyword,
    Keyword,
    Terminology,
)
from iamsystem_python_spark.core.matcher import (  # noqa: F401
    Annotation,
    ContSeqFormatter,
    ContSeqStopFormatter,
    EBratFormatters,
    EMatchingStrategy,
    Matcher,
    PrintAnnot,
    SpanFormatter,
    TokenFormatter,
    replace_annots,
    rm_nested_annots,
)
from iamsystem_python_spark.core.stopwords import (  # noqa: F401
    NegativeStopwords,
    NoStopwords,
    Stopwords,
)
from iamsystem_python_spark.core.tokenize import (  # noqa: F401
    Offsets,
    Token,
    Tokenizer,
    TokenizerImp,
    code_tokenizer,
    english_tokenizer,
    french_tokenizer,
    lower_no_accents,
    split_find_iter_closure,
    tokenize_and_order_decorator,
)
