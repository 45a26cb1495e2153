"""Outside-in benchmark of the crawl engine; see README.md."""
