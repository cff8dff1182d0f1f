"""Sources: ingest readers (SeaBASS-style delimited text) and the
from-scratch media codecs of the multimodal decode family."""
