{{ config(materialized='table') }}
SELECT review_id, user_id, business_id, stars, useful, funny, cool, text, date
FROM {{ source('yelp', 'review') }}
WHERE review_id IS NOT NULL
