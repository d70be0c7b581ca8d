"""Training-data pipeline operators (ENGINE-NEW): deduplication, similarity
search, text analysis, charset and HTML extraction. All hot paths are native
Column expressions / higher-order functions; Python appears only in
clearly-marked Arrow-batched UDFs."""
