"""Repo benchmark for lucene_solr_spark; entry point perfbench/run.py."""
