"""One module per benchmark workload, each with setup, cycle, finish
(noise controls and checks deferred past the timing), summary and
per_layer."""
