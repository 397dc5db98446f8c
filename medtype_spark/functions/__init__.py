from medtype_spark.functions.text import (  # noqa: F401
    clean_text_pandas,
    clean_text_py,
    clean_text_udf,
    collapse_char_pandas,
    collapse_char_py,
    normalise_link_col,
)
