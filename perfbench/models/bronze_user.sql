{{ config(materialized='table') }}
SELECT user_id, name, review_count, yelping_since, useful, fans, average_stars
FROM {{ source('yelp', 'user') }}
