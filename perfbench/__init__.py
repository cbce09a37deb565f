"""Crawl and corpus benchmark for commoncrawlnewsdataset_spark (see README.md)."""
