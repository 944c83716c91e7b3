{{ config(materialized='table') }}
SELECT business_id, name, city, state, stars, review_count, is_open
FROM {{ source('yelp', 'business_extra') }}
