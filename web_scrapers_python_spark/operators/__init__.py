"""Engine operators: parsing UDFs, exact seen dedup, politeness,
link expansion, sequencing, text-corpus ops (near-dup, quality, langid),
and similarity search."""
